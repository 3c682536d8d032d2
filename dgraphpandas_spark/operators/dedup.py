"""Deduplication operators for training-data pipelines (engine additions —
"deduplication" per the task brief): exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Scale design notes (the point at 100 TB):

- exact dedup: hash-groupBy on md5(text) — partial agg absorbs duplicates
  map-side before the shuffle; only one (hash → min id) pair per group
  crosses the wire.
- shingle joins: the candidate generator joins on shingle/bucket keys, never
  all-pairs; ``max_df``/``max_bucket`` drop hot keys first
  (operators/blocking.py — a key in k docs contributes k² candidate pairs).
- MinHash/LSH: signatures are per-doc aggregations (map-side partial);
  candidates only join within a band bucket.
- All hashes are md5-derived → deterministic, identical in DuckDB oracles.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.determinism import md5_int
from ..functions.similarity import dot, unit
from ..functions.text import fingerprint, token_count, token_windows, tokens, window_count, word_ngrams
from .blocking import cosine_block_pairs, drop_hot_keys


def exact_dedup(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text') -> DataFrame:
    """One surviving id per distinct text (min id wins).
    Returns (fingerprint, keep_id, n_dups)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias('fp'), F.col(id_col))
        .groupBy('fp')
        .agg(
            F.min(id_col).alias('keep_id'),
            F.count('*').alias('n_dups'),
        )
    )


def shingles(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs: word n-grams of the normal form
    (``functions.text.word_ngrams``), then explode.

    ``distinct=True`` (set semantics — required for Jaccard counting) costs
    a full shuffle of every (id, shingle) pair; pass ``distinct=False``
    where duplicates don't change the result (MinHash signatures: ``min``
    over a multiset equals ``min`` over its set)."""
    sh = word_ngrams(tokens(F.col(text_col)), n)
    out = df.select(F.col(id_col).alias('id'), F.explode(sh).alias('shingle'))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    threshold: float = 0.8,
    max_df: Optional[int] = 1000,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard ≥ threshold.

    shingle-join candidate generation: |A∩B| from a self-join on shingle,
    |A|,|B| from per-doc counts, J = ∩ / (|A|+|B|−∩).  ``max_df`` is the
    hot-shingle guard (operators/blocking.py), ON by default; pass
    ``max_df=None`` for exact small-data runs; the oracle mirrors the
    guard.  |A|,|B| count the shingles that survive the guard.
    """
    # the shingle frame feeds the hot list, the sizes and both join sides
    # and is recomputed for each, like jaccard_for_pairs: a persist here
    # would pin one cache entry per corpus for the life of the session
    sh = drop_hot_keys(shingles(df, id_col, text_col, n), 'shingle', max_df)
    a = sh.select(F.col('id').alias('id_a'), 'shingle')
    b = sh.select(F.col('id').alias('id_b'), 'shingle')
    inter = (
        a.join(b, 'shingle')
        .filter(F.col('id_a') < F.col('id_b'))
        .groupBy('id_a', 'id_b')
        .agg(F.count('*').alias('inter'))
    )
    return _jaccard(inter, sh).filter(F.col('jaccard') >= threshold)


def _jaccard(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard) from per-pair shingle overlaps ``inter`` and
    the (id, shingle) rows ``sh`` the per-doc sizes are counted from."""
    sizes = sh.groupBy('id').agg(F.count('*').alias('sz'))
    return (
        inter.join(sizes.withColumnsRenamed({'id': 'id_a', 'sz': 'sz_a'}), 'id_a')
        .join(sizes.withColumnsRenamed({'id': 'id_b', 'sz': 'sz_b'}), 'id_b')
        .withColumn(
            'jaccard',
            F.round(F.col('inter') / (F.col('sz_a') + F.col('sz_b') - F.col('inter')), 6),
        )
        .select('id_a', 'id_b', 'jaccard')
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    bands: int = 8,
) -> DataFrame:
    """Per-doc MinHash signature: band j's value is min over shingles of
    the first 60 bits of md5(shingle || '#' || j), as a LONG.

    Numeric (not hex-string) signatures matter for the plan: ``min`` over
    string/binary has an immutable aggregation buffer and falls back to
    SortAggregate (sort + spill per group); ``min`` over LONG runs as
    HashAggregate with map-side partial combine — the shape you want when
    grouping 10^12 shingle rows.  60 bits of a uniform hash preserve
    MinHash semantics; the same ``('0x'||substr(md5,1,15))::bigint``
    conversion runs in the DuckDB oracle.

    Shingles are NOT deduped first: ``min`` over a multiset equals ``min``
    over its set, so the signature agg consumes the raw explode directly —
    one HashAggregate instead of distinct-shuffle + agg (removes the
    largest shuffle in the LSH pipeline; the oracle's DISTINCT is
    harmless for the same reason)."""
    sh = shingles(df, id_col, text_col, n, distinct=False)
    aggs = [
        F.min(md5_int(F.concat(F.col('shingle'), F.lit(f'#{j}')), 15)).alias(f'sig_{j}')
        for j in range(bands)
    ]
    return sh.groupBy('id').agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    bands: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any band bucket.

    Plan shape matters: ONE signature aggregation (not a per-band union,
    which would recompute the agg per band per join side), bands fanned out
    with a narrow ``posexplode``, then pairs expanded as a *within-bucket
    self-join* (``a JOIN b ON bucket WHERE id_a < id_b``) — a single
    logical shuffle on bucket, never an all-pairs join.  ``max_bucket``
    is the hot-bucket guard (operators/blocking.py).

    Why a self-join and not ``collect_set`` + double ``explode`` (the
    round-3 shape): collect_set is a payload-carrying aggregate partial
    combine cannot shrink, and the double explode expands all k² pair
    rows of a hot bucket inside ONE task — a 10⁸-row single-task
    explosion at the default cap.  The join form keeps per-row width
    constant, lets AQE's skew-join split a hot bucket across tasks, and
    Spark's ReuseExchange dedupes the two identical join inputs, so the
    bucket stream is still shuffled once."""
    # ids are unique within a bucket (the band index is part of the bucket
    # key and posexplode emits one row per (id, band)), so count(*) is the
    # bucket's membership size
    eligible = drop_hot_keys(minhash_buckets(df, id_col, text_col, n, bands), 'bucket', max_bucket)
    a = eligible.select('bucket', F.col('id').alias('id_a'))
    b = eligible.select('bucket', F.col('id').alias('id_b'))
    return (
        a.join(b, 'bucket')
        .filter(F.col('id_a') < F.col('id_b'))
        .select('id_a', 'id_b')
        .distinct()
    )


def jaccard_for_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for a given candidate pair list (id_a, id_b).

    Cost is |pairs| × avg-shingles (two equi-joins + one agg), never
    all-pairs — this is the verify stage that makes LSH candidates safe to
    act on.

    The shingle frame feeds THREE consumers (sizes, both join sides) and
    is recomputed for each, never persisted: the round-5 ABAB ledger in
    BENCH/BASELINE.md measured a DISK_ONLY persist ~25-50% SLOWER at
    sf0.1 — local recompute of a columnar scan beats
    materialize-and-reread until the scan itself is the bottleneck."""
    sh = shingles(df, id_col, text_col, n)
    sa = sh.select(F.col('id').alias('id_a'), 'shingle')
    sb = sh.select(F.col('id').alias('id_b'), 'shingle')
    inter = (
        pairs.select('id_a', 'id_b')
        .join(sa, 'id_a')
        .join(sb, ['id_b', 'shingle'])
        .groupBy('id_a', 'id_b')
        .agg(F.count('*').alias('inter'))
    )
    return _jaccard(inter, sh)


def connected_components(
    ids: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``ids``: DataFrame[id] (one row per node, singletons included);
    ``edges``: DataFrame[id_a, id_b] undirected pairs.  Returns
    DataFrame[id, cluster_id] where cluster_id = min node id in the
    component — converges in O(component diameter) rounds, each round one
    shuffle-join + one shuffle-agg over (edge, label) rows only (labels
    are ids, never payloads).  The per-round checkpoint truncates the plan
    (iterative self-joins otherwise grow the lineage exponentially;
    reliable when the session has a checkpoint dir, local otherwise —
    operators/checkpointing.py).  Hub-node skew in the join is handled by
    AQE skew-join (session default).
    Raises if not converged within ``max_iter`` — near-dup components have
    tiny diameters, so hitting the cap means pathological input.
    """
    from pyspark.sql import Observation

    from .checkpointing import truncate

    und = truncate(edges.select(F.col('id_a').alias('src'), F.col('id_b').alias('dst')).unionByName(
        edges.select(F.col('id_b').alias('src'), F.col('id_a').alias('dst'))
    ).distinct())
    labels = truncate(ids.select(F.col('id'), F.col('id').alias('label')))
    for _ in range(max_iter):
        nbr = (
            und.join(labels.withColumnsRenamed({'id': 'src', 'label': 'src_label'}), 'src')
            .groupBy('dst')
            .agg(F.min('src_label').alias('nbr_label'))
        )
        # convergence detection rides the checkpoint job as an Observation
        # (same trick as plans/pipeline.py's count): the changed-row count
        # is aggregated on the rows already flowing into the checkpoint,
        # replacing the old extra join-with-previous-labels + count()
        # action (one action per round instead of two, and one fewer
        # O(labels) shuffle join per round).  At sf0.1 wall-clock is
        # unchanged (the label frames are tiny; candidates+verify
        # dominate) — the win is the removed per-round label-set join,
        # which grows with n at 100 TB while this version's cost doesn't.
        obs = Observation()
        staged = (
            labels.join(nbr.withColumnRenamed('dst', 'id'), 'id', 'left')
            .select(
                'id',
                F.least(F.col('label'), F.coalesce('nbr_label', 'label')).alias('label'),
                (F.col('nbr_label') < F.col('label')).alias('__chg'),
            )
            .observe(obs, F.sum(F.col('__chg').cast('long')).alias('n_changed'))
        )
        new_labels = truncate(staged.select('id', 'label'))
        changed = obs.get['n_changed'] or 0
        labels = new_labels
        if changed == 0:
            return labels.withColumnRenamed('label', 'cluster_id')
    raise RuntimeError(f'connected_components did not converge in {max_iter} rounds')


def dedup_clusters(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 10_000,
    max_iter: int = 20,
) -> DataFrame:
    """The operator a training-data pipeline actually runs: MinHash-LSH
    candidates → exact-Jaccard verify → connected components → per-cluster
    keep flag.  Returns DataFrame[id, cluster_id, keep] over ALL docs
    (singletons are their own cluster); ``keep`` marks the cluster's min
    id — filter on it for the deduplicated corpus.

    Every stage is bucketed/equi-join (no all-pairs path): candidates from
    band buckets (hot-bucket capped), verification joins only candidate
    pairs, components propagate labels in O(diameter) bounded rounds.
    """
    cand = minhash_lsh_candidates(df, id_col, text_col, n, bands, max_bucket)
    edges = jaccard_for_pairs(cand, df, id_col, text_col, n).filter(
        F.col('jaccard') >= threshold
    )
    ids = df.select(F.col(id_col).alias('id')).distinct()
    labels = connected_components(ids, edges, max_iter)
    return labels.select(
        'id', 'cluster_id', (F.col('id') == F.col('cluster_id')).alias('keep')
    )


def simhash(df: DataFrame, id_col: str = 'doc_id', text_col: str = 'text', bits: int = 16) -> DataFrame:
    """SimHash fingerprint over tokens (with multiplicity): token hash =
    first 4 hex chars of md5 → 16-bit int; fingerprint bit b set iff the
    weighted bit-sum is positive."""
    tok = df.select(F.col(id_col).alias('id'), F.explode(tokens(F.col(text_col))).alias('tok'))
    tok = tok.withColumn('h', md5_int(F.col('tok').cast('binary'), 4))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col('h'), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f'b{b}')
        for b in range(bits)
    ]
    agg = tok.groupBy('id').agg(*bit_sums)
    fp: Column = F.lit(0)
    for b in range(bits):
        fp = fp + F.when(F.col(f'b{b}') > 0, F.lit(2 ** b)).otherwise(F.lit(0))
    return agg.select('id', fp.alias('simhash'))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force verifier; candidate
    generation at scale goes through simsearch.lsh buckets first)."""
    # each side L2-normalized ONCE (functions.unit) so the O(pairs)
    # stage pays one dot per pair, not three — the oracle mirrors the
    # identical prenormalized formula
    a = df.select(F.col(id_col).alias('id_a'), unit(F.col(vec_col)).alias('va'))
    b = df.select(F.col(id_col).alias('id_b'), unit(F.col(vec_col)).alias('vb'))
    return (
        a.join(b, F.col('id_a') < F.col('id_b'))
        .withColumn('cos', F.round(dot(F.col('va'), F.col('vb')), 6))
        .filter(F.col('cos') >= threshold)
        .select('id_a', 'id_b', 'cos')
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket: Optional[int] = 10_000,
    multi_probe: bool = False,
) -> DataFrame:
    """Scale path for embedding near-dup: block by sign-LSH bucket first,
    then score only within-bucket pairs — an EQUI-join on bucket (shuffle
    hash/SMJ) instead of the exact variant's O(n²) nested-loop.  High-cosine
    pairs land in the same bucket with probability (1 − θ/π)^P, so this is
    a recall<1 approximation; verify survivors with the exact cosine (done
    here in the same pass).

    ``multi_probe=True`` additionally probes every Hamming-distance-1
    bucket: one join side explodes to its P+1 neighbor buckets (input grows
    ×(P+1), still an equi-join — never all-pairs), catching pairs split by
    exactly one hyperplane.  Raises per-pair recall from p^P to
    p^P + P·p^(P-1)(1−p) without coarsening the blocks.

    ``max_bucket`` (ON by default) is the hot-bucket guard
    (operators/blocking.py); mirrored in the oracle."""
    from ..functions.similarity import hyperplanes, lsh_bucket

    planes = hyperplanes(n_planes, dim, seed)
    # bucket from the RAW vector (fp-exact blocking parity with the
    # oracle); stored v prenormalized for the one-dot cosine
    bucketed = drop_hot_keys(df.select(
        F.col(id_col).alias('id'),
        unit(F.col(vec_col)).alias('v'),
        lsh_bucket(F.col(vec_col), planes).alias('bucket'),
    ), 'bucket', max_bucket)
    pairs = cosine_block_pairs(bucketed, ['bucket'], n_planes if multi_probe else None)
    return (
        pairs.filter((F.col('id') < F.col('nbr')) & (F.col('cos') >= threshold))
        .select(F.col('id').alias('id_a'), F.col('nbr').alias('id_b'), 'cos')
        .distinct()
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = 'vec_id',
    vec_col: str = 'embedding',
    threshold: float = 0.4,
    n_cells: int = 8,
    iters: int = 2,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding space, compare cosine similarity ONLY within a cluster, and
    drop every document that has a lower-id same-cluster neighbor at
    ``cos >= threshold`` — the deterministic lowest-id-representative rule
    keeps exactly one doc per within-cluster duplicate group without a
    connected-components pass.

    Returns (id_col, cell, keep).

    Scale: pair generation is an EQUI-JOIN on cell — never all-pairs; the
    shuffle moves each vector once per side, keyed by cell.  Per-cluster
    work is O(c²) with c ≈ n/n_cells: SemDeDup's contract is that n_cells
    grows with the corpus (the paper runs 50k clusters on LAION) so c stays
    bounded; n_cells is the ONE knob to turn at 100 TB.  Centroid training
    (train_ivf_centroids) shuffles n_cells × dim partial sums per round,
    never vectors, and the driver holds centroids only.
    """
    from .simsearch import ivf_assign, train_ivf_centroids

    if centroids is None:
        centroids = train_ivf_centroids(
            df, n_cells=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
    # cell from the RAW vector (identical k-means replay vs the oracle);
    # stored v prenormalized so within-cell pair scoring is one dot each
    assigned = ivf_assign(df, vec_col=vec_col, centroids=centroids).select(
        F.col(id_col).alias('id'), unit(F.col(vec_col)).alias('v'), 'cell'
    )
    dups = (
        cosine_block_pairs(assigned, ['cell'])
        .filter((F.col('id') > F.col('nbr')) & (F.col('cos') >= threshold))
        .select('id')
        .distinct()
    )
    return (
        assigned.join(dups.withColumn('dup', F.lit(True)), 'id', 'left')
        .select(
            F.col('id').alias(id_col),
            'cell',
            F.coalesce(~F.col('dup'), F.lit(True)).alias('keep'),
        )
    )


def block_dedup(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    block: int = 8,
    max_docs: int = 1,
) -> DataFrame:
    """Sub-document exact dedup at token-block granularity (the line-level
    dedup of CCNet/RefinedWeb, generalized to fixed-size token blocks for
    corpora whose documents carry no newline structure): any block of
    ``block`` consecutive normalized tokens appearing in more than
    ``max_docs`` DISTINCT documents is removed from every document; the
    survivors are re-joined in original order.  Boilerplate (headers,
    navigation, license banners) repeats across documents verbatim — this
    strips it without dropping whole documents the way doc-level dedup
    would.  Returns (id, n_blocks, n_kept, clean_fp) where clean_fp is the
    md5 of the cleaned text ('' when every block was boilerplate — the
    left join back to the id universe keeps fully-stripped docs visible).

    Scale shape: blocking is a per-row expression + posexplode (no
    shuffle); the frequency table is ONE hash-groupBy on the block hash
    (map-side partial absorbs within-doc repeats; count(DISTINCT doc) plans
    as the two-phase expanded distinct, whose (bh, id) re-shuffle is the
    cost an HLL sketch would cut at 100 TB, at the price of flipping
    blocks near ``max_docs``); the drop step is a LEFT ANTI join of blocks
    against the *dup-hash list only* (boilerplate hash count ≪ block
    count, AQE broadcasts it when small); reassembly is one groupBy on the
    doc id.  Within-document repeats (count_distinct = 1) are preserved —
    this operator removes cross-document boilerplate, not self-repetition
    (that is text_repetition's job).
    """
    toks = F.col('__toks')
    src = df.select(
        F.col(id_col).alias('id'), tokens(F.col(text_col)).alias('__toks')
    ).withColumn('n_blocks', window_count(toks, block))
    exploded = src.select(
        'id', 'n_blocks', F.posexplode_outer(token_windows(toks, block, block)).alias('pos', 'btext')
    ).withColumn('bh', F.md5(F.col('btext').cast('binary')))

    dup_hashes = (
        exploded.filter(F.col('bh').isNotNull())
        .groupBy('bh')
        .agg(F.count_distinct('id').alias('n_docs'))
        .filter(F.col('n_docs') > max_docs)
        .select('bh')
    )
    kept = exploded.filter(F.col('bh').isNotNull()).join(dup_hashes, 'bh', 'left_anti')
    reassembled = kept.groupBy('id').agg(
        F.count('*').alias('n_kept'),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct('pos', 'btext'))),
                lambda s: s['btext'],
            ),
            ' ',
        ).alias('__clean'),
    )
    ids = src.select('id', 'n_blocks')
    return ids.join(reassembled, 'id', 'left').select(
        F.col('id').alias(id_col),
        'n_blocks',
        F.coalesce('n_kept', F.lit(0)).alias('n_kept'),
        F.md5(F.coalesce(F.col('__clean'), F.lit('')).cast('binary')).alias('clean_fp'),
    )


def dup_spans(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 8,
) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): for
    every document, the fraction of tokens covered by at least one
    ``n``-token word sequence that also appears VERBATIM in another
    document.  Unlike ``block_dedup`` (fixed aligned blocks) this detects
    repeats at ANY offset — the suffix-array use case of the paper,
    re-expressed as positional shingles so it stays a hash join.  Returns
    DataFrame[id, n_tokens, n_dup_tokens, dup_frac] over ALL documents
    (clean docs report 0 / 0.0).

    Coverage math: the marked start positions of a doc, sorted, cover
    ``n + Σ min(n, gap)`` tokens (overlapping spans merge by construction)
    — a pure array fold over a doc-bounded list, no second explode.

    Scale shape: positional shingles are one fused projection + posexplode
    (no shuffle); the duplicated-gram list is ONE hash-groupBy on the gram
    md5 (map-side partials absorb within-doc repeats, count_distinct caps
    at 2 rows per gram via the >1 filter's early aggregate); marking is a
    LEFT SEMI join of positions against that list — row count ≤ the
    positional gram count, so a boilerplate gram shared by k docs fans out
    linearly (k marked rows), never quadratically (no pair expansion
    anywhere); reassembly is one groupBy on the doc id with a sorted
    doc-bounded position list.
    """
    toks = tokens(F.col(text_col))
    src = df.select(
        F.col(id_col).alias('id'),
        toks.alias('__toks'),
        F.coalesce(token_count(F.col(text_col)).cast('long'), F.lit(0)).alias('n_tokens'),
    )
    grams = src.select(
        'id', F.posexplode(word_ngrams(F.col('__toks'), n)).alias('pos0', 'gram')
    ).select('id', (F.col('pos0') + 1).alias('pos'), F.md5(F.col('gram').cast('binary')).alias('gh'))
    dup = (
        grams.groupBy('gh')
        .agg(F.count_distinct('id').alias('nd'))
        .filter(F.col('nd') > 1)
        .select('gh')
    )
    starts = (
        grams.join(dup, 'gh', 'left_semi')
        .groupBy('id')
        .agg(F.sort_array(F.collect_list('pos')).alias('s'))
    )
    gaps = F.expr(
        f'aggregate(transform(sequence(2, size(s)), '
        f'j -> least(CAST({n} AS LONG), CAST(element_at(s, j) - element_at(s, j - 1) AS LONG))), '
        f'0L, (a, x) -> a + x)'
    )
    covered = F.when(F.size('s') >= 2, F.lit(n) + gaps).otherwise(F.lit(n)).cast('long')
    marked = starts.select('id', covered.alias('n_dup_tokens'))
    return (
        src.select('id', 'n_tokens')
        .join(marked, 'id', 'left')
        .select(
            'id',
            'n_tokens',
            F.coalesce('n_dup_tokens', F.lit(0)).alias('n_dup_tokens'),
            F.when(F.col('n_tokens') == 0, F.lit(0.0))
            .otherwise(F.round(F.coalesce('n_dup_tokens', F.lit(0)) / F.col('n_tokens'), 6))
            .alias('dup_frac'),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    k: int = 3,
    w: int = 4,
    threshold_ppm: int = 500_000,
    max_df: int = 1_000,
) -> DataFrame:
    """Asymmetric containment detection — the partial-copy complement to
    symmetric Jaccard dedup (Lee et al. 2021 measure both): doc A is
    CONTAINED in doc B when most of A's winnowing fingerprints
    (``functions.text.winnow_fingerprints`` — position-robust MOSS
    scheme) also appear in B, catching quotes, boilerplate wrappers and
    truncated copies that whole-doc similarity misses.  Returns DIRECTED
    DataFrame[id_a, id_b, shared, n_a, containment_ppm] with
    containment_ppm = |fp(A) ∩ fp(B)| · 1e6 DIV |fp(A)| ≥
    ``threshold_ppm`` (integer ppm — engine-portable, no float ratio).

    Scale shape: fingerprints explode to (id, fp) rows; hashes in more
    than ``max_df`` rows are dropped FIRST (the hot-key guard,
    operators/blocking.py; ``n_a`` counts RETAINED fingerprints, so the
    ratio stays consistent); the candidate generator is one equi-join on
    the 60-bit hash (never all-pairs, per-hash fan-out ≤ max_df²) into one
    (id_a, id_b) HashAggregate; the per-doc size joins back
    broadcast-eligible.  Docs
    shorter than ``k`` tokens fingerprint to ∅ and emit nothing.
    """
    from ..functions.text import winnow_fingerprints

    kept = drop_hot_keys(df.select(
        F.col(id_col).alias('id'),
        F.explode(winnow_fingerprints(F.col(text_col), k=k, w=w)).alias('fp'),
    ), 'fp', max_df)
    sizes = kept.groupBy('id').agg(F.count('*').alias('n'))
    shared = (
        kept.select(F.col('id').alias('id_a'), 'fp')
        .join(kept.select(F.col('id').alias('id_b'), 'fp'), 'fp')
        .filter(F.col('id_a') != F.col('id_b'))
        .groupBy('id_a', 'id_b')
        .agg(F.count('*').alias('shared'))
    )
    return (
        # no broadcast hint: sizes is doc-count-scale — AQE broadcasts it
        # while it fits and plans the shuffle join beyond that
        shared.join(sizes.select(F.col('id').alias('id_a'),
                                 F.col('n').alias('n_a')), 'id_a')
        .withColumn('containment_ppm',
                    F.expr('shared * 1000000 DIV n_a').cast('long'))
        .filter(F.col('containment_ppm') >= threshold_ppm)
        .select('id_a', 'id_b', 'shared', 'n_a', 'containment_ppm')
    )


def minhash_buckets(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    bands: int = 8,
) -> DataFrame:
    """(id, bucket) LSH index rows for a corpus — the MATERIALIZABLE half
    of incremental dedup.  At 100 TB this frame is computed once per
    corpus wave and written partitioned (or bucketed) by ``bucket``;
    every subsequent ingestion batch joins against the stored index with
    a partition-pruned scan instead of re-signing the corpus.  One
    signature HashAggregate + a narrow posexplode — the bucket stage of
    ``minhash_lsh_candidates`` too, so an index built here is valid for
    within-corpus candidates."""
    sigs = minhash_signatures(df, id_col, text_col, n, bands)
    return sigs.select(
        'id',
        F.posexplode(F.array(*[F.col(f'sig_{j}') for j in range(bands)])).alias('band', 'sig'),
    ).select(
        'id',
        F.concat(F.col('band').cast('string'), F.lit('|'), F.col('sig')).alias('bucket'),
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame = None,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 10_000,
    corpus_buckets: DataFrame = None,
) -> DataFrame:
    """Admission-control dedup for an ingestion BATCH against an existing
    corpus — the shape that matters at 100 TB: the corpus is never
    re-paired with itself (that work happened when it was ingested); each
    new document is checked against the corpus LSH index and verified
    with exact n-gram Jaccard only for its own candidates, so the cost is
    O(batch) + |candidates|, independent of corpus size.

    Returns one row per NEW document:
    DataFrame[id, dup_of, jaccard, keep] — ``dup_of`` the best-matching
    corpus document (max Jaccard, min corpus id on ties; NULL if no match
    >= ``threshold``), ``keep`` = no qualifying match.  Batch-internal
    duplicates are OUT of scope by design (two new copies of a novel text
    both pass) — run the batch through ``minhash_lsh_candidates`` first
    if batch-internal dedup is needed.

    ``corpus_buckets``: pass a precomputed ``minhash_buckets`` frame
    (e.g. read back from a bucket-partitioned table) to skip re-signing
    the corpus — the steady-state path; ``corpus_df`` is then only needed
    for the Jaccard verify shingles.  The hot-bucket guard
    (operators/blocking.py) counts CORPUS bucket membership; it is a
    recall guard, mirrored by the oracle.

    Plan shape: one equi-join on bucket (batch side small → broadcast-
    eligible under AQE), DISTINCT pair projection, the bounded
    ``jaccard_for_pairs`` verify (pair-list-sized, never all-pairs), one
    row_number window per new doc, and a final left join back to the
    batch universe so every new id gets a verdict row.
    """
    from pyspark.sql.window import Window

    if corpus_df is None:
        raise ValueError('corpus_df is required (Jaccard verify reads its text)')
    if corpus_buckets is None:
        corpus_buckets = minhash_buckets(corpus_df, id_col, text_col, n, bands)
    new_buckets = minhash_buckets(new_df, id_col, text_col, n, bands)
    pairs = (
        new_buckets.join(drop_hot_keys(corpus_buckets, 'bucket', max_bucket)
                         .select('bucket', F.col('id').alias('id_b')), 'bucket')
        .select(F.col('id').alias('id_a'), 'id_b')
        .distinct()
    )
    both = new_df.select(F.col(id_col), F.col(text_col)).unionByName(
        corpus_df.select(F.col(id_col), F.col(text_col))
    )
    verified = jaccard_for_pairs(pairs, both, id_col, text_col, n)
    w = Window.partitionBy('id_a').orderBy(F.desc('jaccard'), F.asc('id_b'))
    best = (
        verified.filter(F.col('jaccard') >= threshold)
        .withColumn('rn', F.row_number().over(w))
        .filter(F.col('rn') == 1)
        .select(F.col('id_a').alias('id'), F.col('id_b').alias('dup_of'), 'jaccard')
    )
    universe = new_df.select(F.col(id_col).alias('id'))
    return universe.join(best, 'id', 'left').select(
        'id', 'dup_of', 'jaccard', F.col('dup_of').isNull().alias('keep')
    )
