"""Corpus curation: the composite operator a training-data pipeline
actually runs end-to-end (engine addition — combines the text-analysis and
dedup families into one declarative pass).

Pipeline: quality-score + language-id every document (pure expressions) →
threshold/language filter → MinHash-LSH dedup *among the survivors* →
keep one document per near-dup cluster.  Everything stays one lazy plan:
Catalyst fuses the scoring into the scan projection, the filter prunes
before any shuffle, and the dedup stages inherit the bucketed/equi-join
shapes documented in PLANS.md §3/§3b.

Scale notes: scoring+filtering is embarrassingly parallel (zero
exchanges); dedup runs only on the filtered subset (score-first ordering
is deliberate — cheap filters shrink the expensive stage's input); the
final keep-join is an equi-join on doc id (AQE handles skew).
"""
from __future__ import annotations

import math
from typing import Dict, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.determinism import md5_int, units
from ..functions.text import lang_id, quality_score, token_count
from .dedup import dedup_clusters


def _id_bucket(col: Column, n: int, salt: str = '') -> Column:
    """Deterministic, engine-portable id→bucket: first 8 hex digits of
    md5(id || salt) mod n (an empty salt hashes the id alone).  md5 (not
    xxhash64) so any SQL engine can reproduce the assignment
    byte-for-byte (DuckDB oracle, downstream auditors); the per-row cost
    is noise next to scan IO, and swapping in xxhash64 is a one-line
    change if provenance tooling ever allows it."""
    if salt:
        col = F.concat(col.cast('string'), F.lit(salt))
    return md5_int(col.cast('string'), 8) % n


def split_corpus(
    df: DataFrame,
    id_col: str = 'doc_id',
    weights: Dict[str, int] = None,
    salt: str = '',
) -> DataFrame:
    """Deterministic hash-based corpus split (train/val/test) — the
    sampling primitive a resumable 100-TB pipeline needs.

    Membership is a pure function of the document id (+ optional salt):
    stable under re-runs, repartitioning, executor count, and incremental
    appends — every property ``DataFrame.sample`` lacks (it is
    partition-order-sensitive and re-draws on retry).  Zero shuffle: one
    projection, fused into the scan.

    ``weights``: integer percents summing to 100, in insertion order
    (default ``{'train': 98, 'val': 1, 'test': 1}``).

    Group-aware (leakage-safe) splitting: pass the GROUP key as
    ``id_col`` — e.g. ``id_col='source'`` — and every member of a group
    lands in the same split, so near-duplicates that share a domain can
    never straddle train/test (the GroupShuffleSplit semantics, still
    zero-shuffle).
    """
    weights = weights or {'train': 98, 'val': 1, 'test': 1}
    if sum(weights.values()) != 100:
        raise ValueError(f'weights must sum to 100, got {weights}')
    bucket = _id_bucket(F.col(id_col), 100, salt)
    expr = None
    cum = 0
    for name, w in weights.items():
        cum += w
        cond = bucket < cum
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn('split', expr)


def pack_sequences(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    capacity: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Offset-packing of documents into ~``capacity``-token pretraining
    bins: documents are concatenated in deterministic id order within a
    shard and cut every ``capacity`` tokens, so a document belongs to the
    pack its first token lands in (the standard concat-then-chunk layout;
    straddling documents are split by the chunker downstream).

    Physical shape: shard = md5-bucket(id) → ONE hash exchange on shard;
    within a shard a running-sum window (sequential per shard, parallel
    across shards — n_shards is the parallelism knob, sized so a shard's
    token stream fits one task).  Output adds (shard, start_offset,
    pack_id); deterministic, no sampling state.

    Ordering contract: the packing order within a shard is the TOTAL
    order (id, n_tokens, md5(text)) — ``ORDER BY id`` alone is not total
    when ids repeat, and Spark's window sort is unstable across partition
    arrival order while other engines' may be scan-order-stable, so a
    tied boundary row could flip pack assignment between engines.  The
    md5-of-text tiebreak pins every non-identical row; fully identical
    rows are interchangeable, so the result is engine-portable.
    """
    shard = _id_bucket(F.col(id_col), n_shards)
    from pyspark.sql import Window

    w = (
        Window.partitionBy('shard')
        .orderBy(
            F.asc_nulls_first(id_col),
            F.asc('n_tokens'),
            F.asc('__pack_tie'),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(F.col(id_col), F.col(text_col), shard.alias('shard'))
        # coalesce: null/whitespace-only text packs as 0 tokens (never a
        # null that engines order/sum differently)
        .withColumn(
            'n_tokens',
            F.coalesce(token_count(F.col(text_col)).cast('long'), F.lit(0)),
        )
        .withColumn(
            '__pack_tie', F.md5(F.coalesce(F.col(text_col).cast('string'), F.lit('')))
        )
        .withColumn('start_offset', F.sum('n_tokens').over(w) - F.col('n_tokens'))
        # integral DIV, not floor(double/...): a shard's token stream can
        # exceed 2^53 at the 100-TB scale, where double division misbins
        .withColumn('pack_id', F.expr(f'start_offset DIV {int(capacity)}'))
        .drop(text_col, '__pack_tie')
    )


def sample_stratified(
    df: DataFrame,
    rates: Dict[str, float],
    strata_col: str = 'lang',
    id_col: str = 'doc_id',
    salt: str = '',
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum hash sampling — the data-mixing /
    reweighting primitive (e.g. keep 100% of low-resource languages, 10%
    of crawl English).

    Membership is a pure function of (id, salt): stable under re-runs,
    repartitioning, executor count, and incremental appends — the
    properties ``DataFrame.sampleBy`` lacks (its Bernoulli draw is
    partition-order-sensitive and re-draws on task retry, so a 100-TB run
    with stragglers is not reproducible).  Physical shape: ONE projection
    + filter fused into the scan, zero exchanges; the per-stratum rate
    lookup is a constant-folded CASE over ``strata_col``.

    ``rates``: stratum value → keep fraction in [0, 1].  Fractions are
    quantized to 1e-6 buckets (identically in the DuckDB oracle), so the
    kept set is exact and engine-portable.

    NULL strata: the per-stratum equality predicate is never true for a
    NULL ``strata_col`` (SQL three-valued logic), so NULL-stratum rows
    always fall through to ``default_rate`` — a ``rates`` key of ``None``
    is ignored.  ``mixing_rates`` therefore never emits one (it filters
    NULL strata out of its count aggregate).
    """
    scale = 1_000_000
    bucket = _id_bucket(F.col(id_col), scale, salt)
    # round, not truncate: a rate that arrived as micro/1e6 (mixing_rates)
    # must survive the float round-trip to the same integer threshold
    thr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == stratum
        t = F.lit(int(round(rate * scale)))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = thr.otherwise(F.lit(int(round(default_rate * scale))))
    return df.filter(bucket < thr)


def mixing_rates(
    df: DataFrame,
    strata_col: str = 'lang',
    target_frac: tuple = (3, 10),
) -> Dict[str, float]:
    """Temperature-based data-mixing rates (the multilingual upsampling
    rule of XLM-R/mT5 at α = 1/2): per-stratum keep rates whose expected
    total is ``target_frac`` of the corpus and whose allocation is
    proportional to sqrt(n_stratum) — low-resource strata are kept at a
    HIGHER rate than their corpus share, capped at 1.  Feed the result
    straight into ``sample_stratified``.

    Engine-portable by construction: per-stratum counts are integers;
    sqrt is a correctly-rounded IEEE op on every engine, quantized to
    integer micro-units (floor(sqrt(n)·1e6)) before the cross-stratum
    sum, so the allocation arithmetic is EXACT integer math end-to-end —
    rate_micro = (target·1e6·sq_i) // (Σsq · n_i), target = N·num//den.
    α is fixed at 1/2 because sqrt is the one power IEEE guarantees
    correctly rounded; a general pow(x, α) is NOT cross-engine
    bit-stable, so other temperatures would break oracle replay.

    Scale shape: ONE key-only count aggregate; the driver holds one row
    per stratum (languages — metadata-scale).

    NULL strata are excluded from the allocation entirely (no rate is
    emitted for them): ``sample_stratified`` can never match a NULL key,
    so such rows sample at its ``default_rate`` — see its docstring.
    """
    num, den = int(target_frac[0]), int(target_frac[1])
    # NULL strata are excluded: sample_stratified's equality predicate can
    # never select them, so a NULL-keyed rate would silently leave those
    # rows on default_rate while skewing every other allocation (ADVICE r4)
    counts = {
        r[strata_col]: int(r['n'])
        for r in df.filter(F.col(strata_col).isNotNull())
                   .groupBy(strata_col).agg(F.count('*').alias('n')).collect()
    }
    n_total = sum(counts.values())
    target = n_total * num // den
    sq = {s: math.floor(math.sqrt(n) * 1_000_000) for s, n in counts.items()}
    s_total = sum(sq.values())
    return {
        s: min(1_000_000, (target * 1_000_000 * sq[s]) // (s_total * counts[s])) / 1e6
        for s in counts
    }


def build_vocab(
    df: DataFrame,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    k: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Top-``k`` token vocabulary with deterministic ids — the tokenizer
    vocab-building step (word-level; a BPE trainer would iterate this).

    Output: DataFrame[token, n_docs, n_occurrences, token_id] where
    ``token_id`` ranks by (n_occurrences DESC, token ASC) — a total order,
    so ids are reproducible across engines and runs.

    Physical shape (pinned by explain, PLANS.md §7d): tokenize is a
    fused projection + explode (no shuffle); count_distinct(doc) plans
    as the two-phase distinct aggregate — partial count keyed
    (token, doc_id) → exchange → merge → partial distinct keyed token →
    exchange — both with map-side combine, so the exploded token stream
    is pre-shrunk before either shuffle; top-k is TakeOrderedAndProject
    — each task keeps a k-row heap and only k rows ever reach the driver
    side of the sort, so the full vocabulary (potentially billions of
    distinct tokens at 100 TB) is never globally sorted.  The final
    row_number window runs single-partition on the k surviving rows only
    (the WindowExec warning is expected and bounded by k).
    """
    from pyspark.sql import Window

    from ..functions.text import tokens

    counted = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias('token'))
        .filter(F.col('token') != '')
        .groupBy('token')
        .agg(
            F.count_distinct(F.col(id_col)).alias('n_docs'),
            F.count('*').alias('n_occurrences'),
        )
        .filter(F.col('n_occurrences') >= min_count)
    )
    topk = counted.orderBy(F.desc('n_occurrences'), F.asc('token')).limit(k)
    w = Window.orderBy(F.desc('n_occurrences'), F.asc('token'))
    return topk.withColumn('token_id', F.row_number().over(w))


_BPE_SEP = '\x01'


def _bpe_delim_expr(word: Column) -> Column:
    """Word → its symbol sequence as a delimited string: every symbol
    individually wrapped in ``\\x01`` (``⁞a⁞⁞b⁞⁞c⁞``).  The double
    delimiter BETWEEN symbols is what makes a plain string ``replace`` a
    correct greedy leftmost non-overlapping pair merge: consecutive pair
    occurrences never share delimiter characters, so ``[a,a,a,a]``
    merges to ``[aa,aa]`` (one shared delimiter would yield the wrong
    ``[aa,a,a]``).  Both Spark's ``replace`` and DuckDB's are leftmost
    non-overlapping, so the oracle replays the merge bit-for-bit."""
    sep = F.lit(_BPE_SEP)
    chars = F.filter(F.split(word, ''), lambda c: c != '')
    return F.concat(sep, F.array_join(chars, _BPE_SEP + _BPE_SEP), sep)


def _bpe_syms_expr(s: Column) -> Column:
    """Delimited string → symbol array (strip outer delims, split on the
    double delimiter)."""
    return F.split(F.substring(s, F.lit(2), F.length(s) - 2), _BPE_SEP * 2)


def bpe_train(
    df: DataFrame,
    text_col: str = 'text',
    n_merges: int = 8,
    token_pattern: str | None = None,
) -> DataFrame:
    """Byte-pair-encoding trainer: the iterated pair-merge loop over the
    word frequency table (Sennrich et al. 2016) — the missing piece
    between ``build_vocab`` (word-level) and a realistic subword
    ``corpus_tokenize``.  Returns the merge table
    DataFrame[rank, left, right, merged, pair_count] with rank 1 = first
    (most frequent) merge; fewer than ``n_merges`` rows when the corpus
    exhausts its pairs first.

    Algorithm per round: count adjacent symbol pairs weighted by word
    frequency; pick the argmax pair under the TOTAL order
    (count DESC, left ASC, right ASC — deterministic across engines for
    the ASCII symbol alphabet); merge it greedily (leftmost,
    non-overlapping) in every word.  Merges never cross word boundaries
    (each word is its own symbol sequence; no end-of-word marker — the
    word-internal convention, documented).

    Scale shape: the corpus is scanned ONCE (word-frequency groupBy with
    map-side combine, the ``build_vocab`` shape); every merge round runs
    over the vocab-sized word table only — one explode + hash-groupBy for
    pair counts, a 1-row ``TakeOrderedAndProject`` collect (argmax is the
    only driver traffic, one row per round), and one pure-projection
    ``replace`` to apply the merge.  The word table is checkpointed per
    round (pagerank pattern, operators/checkpointing.py) so round K does
    not replay rounds 1..K-1; at 100 TB the corpus scan still happens
    once and the loop cost is O(n_merges × |vocab|).

    ``token_pattern``: optional regex allowlist for trainable tokens
    (e.g. ``'^[a-z0-9]+$'`` keeps the symbol alphabet ASCII so the
    argmax tiebreak collates identically in any engine — used by the
    oracle-checked query).  Tokens containing the ``\\x01`` sentinel are
    always excluded.
    """
    from ..functions.text import tokens

    tok = df.select(F.explode(tokens(F.col(text_col))).alias('word')).filter(
        (F.col('word') != '') & (~F.col('word').contains(_BPE_SEP))
    )
    if token_pattern:
        tok = tok.filter(F.col('word').rlike(token_pattern))
    from .checkpointing import truncate

    words = truncate(
        tok.groupBy('word')
        .agg(F.count('*').alias('cnt'))
        .select('cnt', _bpe_delim_expr(F.col('word')).alias('s'))
    )

    spark = df.sparkSession
    merges = []
    for rank in range(1, int(n_merges) + 1):
        syms = _bpe_syms_expr(F.col('s'))
        pairs = (
            words.select('cnt', syms.alias('syms'))
            .filter(F.size('syms') >= 2)
            .select(
                'cnt',
                F.explode(
                    F.expr(
                        'transform(sequence(1, size(syms) - 1), '
                        'i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))'
                    )
                ).alias('p'),
            )
            .groupBy(F.col('p.l').alias('l'), F.col('p.r').alias('r'))
            .agg(F.sum('cnt').alias('c'))
        )
        best = pairs.orderBy(F.desc('c'), F.asc('l'), F.asc('r')).limit(1).collect()
        if not best:
            break
        l, r, c = best[0]['l'], best[0]['r'], int(best[0]['c'])
        merges.append((rank, l, r, l + r, c))
        pat = F.lit(_BPE_SEP + l + _BPE_SEP + _BPE_SEP + r + _BPE_SEP)
        rep = F.lit(_BPE_SEP + l + r + _BPE_SEP)
        words = truncate(words.select(
            'cnt', F.replace(F.col('s'), pat, rep).alias('s')
        ))

    return spark.createDataFrame(
        merges,
        'rank int, left string, right string, merged string, pair_count long',
    )


def _bpe_encode_word(word: str, ranks: dict) -> list:
    """Encode ONE word against a pair→rank table: repeatedly merge every
    leftmost non-overlapping occurrence of the lowest-rank pair present.

    For a WELL-FORMED merge table (one produced by a sequential BPE
    trainer such as ``bpe_train``), this is exactly the rank-order replay
    the chained-``replace`` path computes: a merge's output symbol can
    only appear in HIGHER-rank pairs (it did not exist when lower ranks
    were learned), and merging a pair only creates adjacencies involving
    its output symbol — so once rank k is the minimum present, no later
    merge can resurrect a pair of rank ≤ k, and min-rank-first order is
    confluent with rank-sequential order."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        l, rgt = best_pair
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == rgt:
                out.append(l + rgt)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    token_pattern: str | None = None,
    method: str = 'auto',
) -> DataFrame:
    """Apply a trained BPE merge table to a corpus: each document's tokens
    are segmented into subword symbols by replaying the merges in rank
    order.  Returns DataFrame[id, n_words, n_subwords, subwords] with
    ``subwords`` in original order.

    Scale shape: the merge table is metadata-scale (``n_merges`` rows,
    collected once on the driver).  Two encode backends, identical output
    (pinned bit-for-bit by tests/test_bpe.py at 200 merges);
    ``method='auto'`` (default) picks ``replace`` up to 256 merges and
    ``trie`` above — the measured JVM ceiling for the chained expression
    is between 200 (works, 4.4 s) and 500 merges (Catalyst
    StackOverflowError; BENCH/BASELINE.md round-5 BPE ledger):

    * ``method='replace'`` (default): the replay compiles into ONE
      chained ``replace`` column expression — a pure projection over the
      corpus, zero shuffles except the final per-doc regroup, fully
      JVM-side.  The right compile target up to a few thousand merges
      (the expression tree and codegen grow linearly with the table).
    * ``method='trie'``: the production path for 50k-merge vocabularies
      (round-4 verdict item #5) — the pair→rank table is broadcast once
      per executor (``SparkContext.broadcast``, not per-task closure)
      and applied in Arrow-batched ``mapInPandas`` with per-batch word
      memoization (Zipf repetition makes the cache hit rate dominate).
      Same zero-shuffle shape: tokenize/posexplode stay JVM-side, only
      the per-WORD merge replay runs in Python, never per-row-of-corpus
      scan logic.
    """
    from ..functions.text import tokens

    ordered = [
        (r['left'], r['right'])
        for r in merges.select('rank', 'left', 'right').orderBy('rank').collect()
    ]
    tok = df.select(
        F.col(id_col).alias('id'),
        F.posexplode(tokens(F.col(text_col))).alias('pos', 'word'),
    ).filter((F.col('word') != '') & (~F.col('word').contains(_BPE_SEP)))
    if token_pattern:
        tok = tok.filter(F.col('word').rlike(token_pattern))
    if method == 'auto':
        method = 'replace' if len(ordered) <= 256 else 'trie'
    if method == 'trie':
        from pyspark.sql.types import (
            ArrayType, StringType, StructField, StructType,
        )

        ranks = {pair: i for i, pair in enumerate(ordered)}
        bc = df.sparkSession.sparkContext.broadcast(ranks)
        out_schema = StructType([
            tok.schema['id'],
            tok.schema['pos'],
            StructField('syms', ArrayType(StringType())),
        ])

        def encode(batches):
            import pandas as pd

            table = bc.value
            memo: dict = {}
            for pdf in batches:
                col = []
                for w in pdf['word']:
                    s = memo.get(w)
                    if s is None:
                        s = _bpe_encode_word(w, table)
                        memo[w] = s
                    col.append(s)
                yield pd.DataFrame(
                    {'id': pdf['id'], 'pos': pdf['pos'], 'syms': col}
                )

        seg = tok.mapInPandas(encode, schema=out_schema)
    elif method == 'replace':
        s = _bpe_delim_expr(F.col('word'))
        for l, r in ordered:
            s = F.replace(
                s,
                F.lit(_BPE_SEP + l + _BPE_SEP + _BPE_SEP + r + _BPE_SEP),
                F.lit(_BPE_SEP + l + r + _BPE_SEP),
            )
        seg = tok.select('id', 'pos', _bpe_syms_expr(s).alias('syms'))
    else:
        raise ValueError(f"method must be 'auto', 'replace' or 'trie', got {method!r}")
    return seg.groupBy('id').agg(
        F.count('*').alias('n_words'),
        F.sum(F.size('syms')).alias('n_subwords'),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct('pos', 'syms'))),
                lambda st: st['syms'],
            )
        ).alias('subwords'),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 5,
) -> DataFrame:
    """Training/eval decontamination: flag every training document sharing
    at least one word ``n``-gram with the eval set — the standard overlap
    test run before pretraining (eval answers leaking into the corpus).

    Scale shape: the eval set is tiny next to a 100-TB corpus, so its
    DISTINCT n-gram set is broadcast; the training side is a narrow
    shingle explode (multiset — duplicates are the signal here) into a
    broadcast hash join, so the corpus never shuffles except the final
    per-doc aggregation (map-side partial).  Returns one row per
    contaminated training doc: (id, n_hits, n_distinct_grams).
    """
    from .dedup import shingles

    ev = shingles(eval_df, id_col, text_col, n, distinct=True).select('shingle').distinct()
    tr = shingles(train, id_col, text_col, n, distinct=False)
    return (
        tr.join(F.broadcast(ev), 'shingle')
        .groupBy('id')
        .agg(
            F.count('*').alias('n_hits'),
            F.count_distinct('shingle').alias('n_distinct_grams'),
        )
    )


def curate_corpus(
    df: DataFrame,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    min_quality: float = 0.5,
    langs: Sequence[str] = ('en',),
    n: int = 3,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Return the curated corpus: documents passing the quality threshold
    and language allowlist, with near-duplicates collapsed to one
    representative (cluster min id) per MinHash-LSH/Jaccard cluster.

    Output: DataFrame[id_col, quality, lang_pred] — one row per kept doc.
    """
    t = F.col(text_col)
    scored = df.select(
        F.col(id_col),
        F.col(text_col),
        F.round(quality_score(t), 6).alias('quality'),
        lang_id(t).alias('lang_pred'),
    )
    passing = scored.filter(
        (F.col('quality') >= min_quality) & F.col('lang_pred').isin(list(langs))
    )
    clusters = dedup_clusters(
        passing.select(F.col(id_col), F.col(text_col)),
        id_col=id_col,
        text_col=text_col,
        n=n,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
    )
    keep_ids = clusters.filter(F.col('keep')).select(F.col('id').alias(id_col))
    return passing.join(keep_ids, id_col, 'left_semi').select(
        id_col, 'quality', 'lang_pred'
    )


def sample_weighted(
    df: DataFrame,
    weight: Column,
    id_col: str = 'doc_id',
    salt: str = '',
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    equal to its (clamped-to-[0,1]) ``weight`` — e.g. quality-weighted
    corpus sampling, where a 0.9-quality document is 3× more likely to
    survive than a 0.3 one.  The acceptance draw is the same md5 hash
    uniform as ``sample_stratified`` (pure function of id+salt: stable
    under re-runs, retries, repartitioning, incremental appends — the
    reproducibility ``DataFrame.sample`` cannot give), compared against
    the weight quantized to 1e-6 (identically in the DuckDB oracle).

    Physical shape: one projection + filter fused into the scan, zero
    exchanges; the weight expression must be deterministic per row.
    """
    scale = 1_000_000
    bucket = _id_bucket(F.col(id_col), scale, salt)
    p = units(F.least(F.lit(1.0), F.greatest(F.lit(0.0), weight)), scale)
    return df.filter(bucket < p)


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    oov_id: int = 0,
) -> DataFrame:
    """Tokenize each document into a vocabulary-id sequence (the encode
    step between ``build_vocab`` and ``pack_sequences`` in a pretraining
    pipeline).  OOV tokens map to ``oov_id``.  Returns
    DataFrame[id, n_tokens, n_oov, ids] with ``ids`` in original token
    order.

    Physical shape: tokenize+posexplode is a fused projection (no
    shuffle); the vocab lookup is a LEFT join the optimizer broadcasts
    while the vocab fits (explicitly hinted — a word vocab is ~10^5-10^6
    rows ≪ corpus; for BPE-scale vocabs that outgrow broadcast, drop the
    hint and AQE falls back to a shuffled join); the only exchange is the
    regroup on the doc id to reassemble ordered sequences.
    """
    from ..functions.text import tokens

    tok = df.select(
        F.col(id_col).alias('id'),
        F.posexplode(tokens(F.col(text_col))).alias('pos', 'token'),
    ).filter(F.col('token') != '')
    looked = tok.join(F.broadcast(vocab.select('token', 'token_id')), 'token', 'left')
    return (
        looked.groupBy('id')
        .agg(
            F.count('*').alias('n_tokens'),
            F.count(F.when(F.col('token_id').isNull(), 1)).alias('n_oov'),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct('pos', F.coalesce('token_id', F.lit(oov_id)).alias('tid')))
                ),
                lambda s: s['tid'],
            ).alias('ids'),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = 'text',
    id_col: str = 'doc_id',
) -> DataFrame:
    """Self-scored unigram language-model log-probability per document —
    the cheap perplexity proxy used for model-based quality filtering
    (CCNet filters on LM perplexity; the unigram variant needs no trained
    model: frequent-word prose scores high, gibberish and rare-token soup
    score low).  Returns DataFrame[id, n_tokens, avg_logprob].

    Numeric determinism: per-token ln(count/total) is quantized to
    integer MICRO-nats (round(ln·1e6) as BIGINT) before summation, so
    the per-doc aggregate is exact integer math — float summation order
    (Spark partial aggs vs DuckDB) cannot flip a digit; only the final
    avg divides, rounded to 6 dp.

    Physical shape: one explode→groupBy(token) for the frequency table
    (map-side combine shrinks the token stream), a scalar total via one
    broadcast cross-join, the per-token lookup join (AQE broadcasts the
    frequency table while it fits), and one regroup on the doc id.
    """
    from ..functions.text import tokens

    tok = df.select(
        F.col(id_col).alias('id'),
        F.explode(tokens(F.col(text_col))).alias('token'),
    ).filter(F.col('token') != '')
    freq = tok.groupBy('token').agg(F.count('*').alias('c'))
    total = freq.agg(F.sum('c').alias('total'))
    lp = freq.crossJoin(F.broadcast(total)).select(
        'token',
        units(F.log(F.col('c').cast('double') / F.col('total')), 1e6).alias('lp_micro'),
    )
    return (
        tok.join(lp, 'token')
        .groupBy('id')
        .agg(
            F.count('*').alias('n_tokens'),
            F.round((F.sum('lp_micro') / F.count('*')) / 1e6, 6).alias('avg_logprob'),
        )
    )


def _bigram_rows(t: DataFrame, *keep: str) -> DataFrame:
    """DataFrame[*keep, w1, w2]: one row per adjacent pair of non-empty
    tokens of the token-array column ``t`` — a pure array ``transform``
    and one explode, no posexplode self-join.  A row whose ``t`` holds
    fewer than two tokens gives none.  ``collocations`` and
    ``bigram_logprob`` both count bigrams from here."""
    return (
        t.filter(F.size('t') >= 2)
        .select(*keep, F.explode(F.expr(
            'transform(sequence(0, size(t) - 2),'
            ' i -> struct(t[i] AS w1, t[i + 1] AS w2))'
        )).alias('bg'))
        .select(*keep, 'bg.w1', 'bg.w2')
        .filter((F.col('w1') != '') & (F.col('w2') != ''))
    )


def bigram_logprob(
    df: DataFrame,
    train_df: DataFrame = None,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-Backoff bigram LM scoring (Brants et al. 2007) — the
    perplexity-filter upgrade of ``unigram_logprob``: each document's
    adjacent-token pairs score ln(c(w1 w2)/c(w1)) when the bigram was seen
    in TRAINING, backing off to ln(alpha) + ln(c(w2)/total) for unseen
    bigrams and to ln(alpha) + ln(1/total) for OOV continuations.
    ``train_df`` defaults to ``df`` (self-scored — every bigram then hits
    the first branch); pass a train split to score held-out text, the
    CCNet-style quality-filter setup.

    Numeric determinism: the same integer micro-nat trick as
    ``unigram_logprob`` — every branch quantizes its ln terms to BIGINT
    micro-nats (the backoff adds two quantized terms; ln(alpha) itself is
    quantized in-engine) before the per-doc sum, so partial-aggregation
    order cannot flip a digit; only the final average divides (6 dp).

    Physical shape: bigram extraction is ``_bigram_rows``, as in
    ``collocations``; TWO train-side HashAggregates (bigram + unigram
    counts, map-side combined); the
    vocabulary-sized LM tables join back unhinted, so AQE broadcasts them
    while they fit and plans a shuffle join beyond that; one regroup on
    the doc id.  Returns
    DataFrame[id, n_bigrams, avg_logprob] — docs with < 2 non-empty
    tokens have no bigrams and no row.
    """
    from ..functions.text import tokens

    if train_df is None:
        train_df = df

    bc = (
        _bigram_rows(train_df.select(tokens(F.col(text_col)).alias('t')))
        .groupBy('w1', 'w2')
        .agg(F.count('*').alias('cb'))
    )
    uni = (
        train_df.select(F.explode(tokens(F.col(text_col))).alias('w'))
        .filter(F.col('w') != '')
        .groupBy('w')
        .agg(F.count('*').alias('c'))
    )
    total = uni.agg(F.sum('c').alias('total'))
    alpha_micro = units(F.log(F.lit(float(alpha))), 1e6)
    scored = (
        _bigram_rows(df.select(F.col(id_col).alias('id'), tokens(F.col(text_col)).alias('t')), 'id')
        .join(bc, ['w1', 'w2'], 'left')
        .join(uni.select(F.col('w').alias('w1'), F.col('c').alias('cu1')), 'w1', 'left')
        .join(uni.select(F.col('w').alias('w2'), F.col('c').alias('cu2')), 'w2', 'left')
        .crossJoin(F.broadcast(total))
        .select(
            'id',
            F.when(
                F.col('cb').isNotNull(),
                units(F.log(F.col('cb').cast('double') / F.col('cu1')), 1e6),
            ).when(
                F.col('cu2').isNotNull(),
                alpha_micro + units(F.log(F.col('cu2').cast('double') / F.col('total')), 1e6),
            ).otherwise(
                alpha_micro + units(F.log(F.lit(1.0) / F.col('total')), 1e6)
            ).alias('lp_micro'),
        )
    )
    return scored.groupBy('id').agg(
        F.count('*').alias('n_bigrams'),
        F.round((F.sum('lp_micro') / F.count('*')) / 1e6, 6).alias('avg_logprob'),
    )


def cap_per_source(
    df: DataFrame,
    max_per_source: int = 100,
    source_col: str = 'source',
    text_col: str = 'text',
    id_col: str = 'doc_id',
) -> DataFrame:
    """Per-source document cap — the C4/RefinedWeb-style source-balancing
    step: within every source (domain), documents rank by quality
    (``functions.text.quality_score`` DESC, id ASC — a total order) and
    only the top ``max_per_source`` are kept, so no single domain
    dominates the training mix.  Returns one AUDIT row per input document
    — DataFrame[id, source, quality, rank, kept] — never a silent drop
    (the repo's no-silent-caps rule); filter on ``kept`` for the surviving
    corpus.

    Physical shape: quality is a pure expression (computed once, before
    the exchange), then ONE shuffle keyed on source for a single
    row_number window — no join, no second pass.  Skew note for 100 TB: a
    mega-source's partition is one window task; AQE cannot split a
    window, so for web-crawl distributions pre-aggregate a per-source
    quality threshold at the target rank (approx_percentile) and filter
    BEFORE the exact window — the standard two-stage top-k-per-heavy-key
    rewrite; at ``max_per_source`` ≪ source size the pre-filter discards
    almost everything cheaply.
    """
    from pyspark.sql import Window

    from ..functions.text import quality_score

    scored = df.select(
        F.col(id_col).alias('id'),
        F.col(source_col).alias('source'),
        quality_score(F.col(text_col)).alias('quality'),
    )
    w = Window.partitionBy('source').orderBy(F.desc('quality'), F.asc('id'))
    return scored.withColumn('rank', F.row_number().over(w)).select(
        'id', 'source', 'quality', 'rank',
        (F.col('rank') <= max_per_source).alias('kept'),
    )


def corpus_health(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """One-row corpus health panel — the monitoring rollup an ingestion
    pipeline runs per wave: document and token totals, exact-duplicate
    rate (distinct content fingerprints vs docs, in integer ppm), the
    dominant detected language with its share, and mean quality.
    Returns DataFrame[n_docs, n_tokens, dup_ppm, top_lang, top_lang_ppm,
    avg_quality].

    Determinism: per-doc quality is quantized to integer micro-units
    BEFORE summation (float partial-aggregation order differs between
    engines; integer sums are order-free — the unigram_logprob trick);
    rates are integer ppm via DIV.  Language argmax ties break
    alphabetically (the ``lang_id`` total order), doc counts make the
    top-language pick exact.

    Physical shape: one constant-width aggregate over the corpus (count
    + two integer sums + a fingerprint count-distinct) plus a
    language-keyed aggregate reduced to its top row (TakeOrdered, ≤
    #langs rows) broadcast back onto the 1-row stats frame.  The exact
    ``count_distinct`` is a full shuffle of distinct fingerprints; at
    100 TB an HLL ``approx_count_distinct`` would shrink it (the
    ``events_cardinality`` trade) at ~2% relative error in dup_ppm and
    the loss of the oracle check.
    """
    from ..functions.text import fingerprint, lang_id, quality_score, token_count

    stats = df.agg(
        F.count('*').alias('n_docs'),
        F.sum(token_count(F.col(text_col)).cast('long')).alias('n_tokens'),
        F.count_distinct(fingerprint(F.col(text_col))).alias('n_distinct'),
        F.sum(units(quality_score(F.col(text_col)), 1e6)).alias('q_micro'),
    )
    top_lang = (
        df.select(lang_id(F.col(text_col)).alias('lang'))
        .groupBy('lang')
        .agg(F.count('*').alias('c'))
        .orderBy(F.desc('c'), F.asc('lang'))
        .limit(1)
    )
    return stats.crossJoin(F.broadcast(top_lang)).select(
        'n_docs',
        'n_tokens',
        F.expr('(n_docs - n_distinct) * 1000000 DIV n_docs').cast('long').alias('dup_ppm'),
        F.col('lang').alias('top_lang'),
        F.expr('c * 1000000 DIV n_docs').cast('long').alias('top_lang_ppm'),
        F.round((F.col('q_micro') / F.col('n_docs')) / 1e6, 6).alias('avg_quality'),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window document chunking — the retrieval/embedding prep
    step: each document becomes overlapping windows of ``size`` tokens at
    ``stride`` spacing (overlap = size − stride keeps context across
    boundaries), tail windows shorter than ``size`` are kept.  Returns
    DataFrame[id, chunk_idx, n_chunk_tokens, chunk_text] with one chunk
    window starting at every stride multiple below the token count.

    Physical shape: tokenize + window slicing are pure array expressions
    and ONE posexplode (Generate) — zero shuffles, embarrassingly
    parallel; downstream embedding/indexing re-partitions as it needs.
    """
    from ..functions.text import token_windows, tokens

    staged = df.select(F.col(id_col).alias('id'), tokens(F.col(text_col)).alias('__toks'))
    return staged.select(
        'id',
        F.posexplode(token_windows(F.col('__toks'), size, stride)).alias('chunk_idx', 'chunk_text'),
    ).withColumn(
        'n_chunk_tokens', F.size(F.split(F.col('chunk_text'), ' '))
    ).select('id', 'chunk_idx', 'n_chunk_tokens', 'chunk_text')


def tfidf_topk(
    df: DataFrame,
    text_col: str = 'text',
    id_col: str = 'doc_id',
    k: int = 5,
) -> DataFrame:
    """Per-document top-k salient terms by integer rarity-weighted term
    frequency — the keyword-extraction step for corpus labeling, topic
    bucketing, and mixture diagnostics (engine addition; no reference
    counterpart — the reference stops at per-column melt).

    Scoring: ``score_ppm = tf * 1_000_000 DIV doc_freq`` — exact integer
    math, monotone in the classic tf·idf for any fixed tf (idf is a
    decreasing function of doc_freq), but with no float ``ln`` whose last
    ulp could differ between libms (the same portability reasoning as
    pagerank's pico-unit quantization; see PLANS.md §6).  Ties break on
    the term string, so the top-k set is a total order both engines
    replay identically.

    Returns DataFrame[id, term, tf, doc_freq, score_ppm, rank] with
    ``rank`` 1..k per document.

    Physical shape: tokenize+explode fused into the scan; one exchange
    for the (id, term) tf aggregate (map-side combine shrinks the token
    stream); doc_freq derives from the tf frame (vocabulary-sized) and
    joins back broadcast; the final top-k is one row_number window per
    document — the only other exchange is the regroup on id.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    tok = df.select(
        F.col(id_col).alias('id'),
        F.explode(tokens(F.col(text_col))).alias('term'),
    ).filter(F.col('term') != '')
    tf = tok.groupBy('id', 'term').agg(F.count('*').alias('tf'))
    dfreq = tf.groupBy('term').agg(F.count('*').alias('doc_freq'))
    scored = tf.join(F.broadcast(dfreq), 'term').withColumn(
        'score_ppm', F.expr('CAST(tf * 1000000 DIV doc_freq AS BIGINT)')
    )
    w = Window.partitionBy('id').orderBy(F.desc('score_ppm'), F.asc('term'))
    return (
        scored.withColumn('rank', F.row_number().over(w).cast('long'))
        .filter(F.col('rank') <= k)
        .select('id', 'term', 'tf', 'doc_freq', 'score_ppm', 'rank')
    )


def shard_corpus(
    df: DataFrame,
    id_col: str = 'doc_id',
    n_shards: int = 8,
    salt: str = '',
) -> DataFrame:
    """Deterministic training-shard assignment + reproducible within-shard
    shuffle order — the data-loader handoff step after curation: each
    document gets a shard in [0, n_shards) and a dense 0-based position
    within its shard, both pure functions of (id, salt).  Stable under
    re-runs, retries, repartitioning, and executor count — the global
    shuffle ``DataFrame.orderBy(rand())`` cannot give (and epoch reshuffle
    is just a new ``salt``).

    The shard AND the shuffle order derive from one md5 per row (engine-
    portable, same rationale as ``_id_bucket``): shard = first 8 hex
    digits mod n_shards; order = the full digest (id tiebreak for the
    theoretical collision).

    Returns DataFrame[id, shard, pos].

    Physical shape: the shard label is a zero-shuffle projection fused
    into the scan; the dense position needs exactly one exchange on
    shard + one row_number window — at 100 TB that is the minimum any
    dense per-shard numbering can do, and n_shards × shard size is chosen
    by the caller to fit the loader, not by this operator.
    """
    from pyspark.sql.window import Window

    key = (
        F.concat(F.col(id_col).cast('string'), F.lit('#' + salt))
        if salt
        else F.col(id_col).cast('string')
    )
    staged = df.select(
        F.col(id_col).alias('id'),
        (md5_int(key, 8) % n_shards).alias('shard'),
        F.md5(key).alias('__h'),
    )
    w = Window.partitionBy('shard').orderBy('__h', 'id')
    return staged.select(
        'id', 'shard', (F.row_number().over(w).cast('long') - 1).alias('pos')
    )


def collocations(
    df: DataFrame,
    text_col: str = 'text',
    min_count: int = 2,
    top_n: int = 200,
) -> DataFrame:
    """Corpus-wide bigram collocations ranked by integer-exact lift —
    phrase mining for vocabulary/tokenizer construction and n-gram
    contamination screens (engine addition; no reference counterpart).

    Score: ``lift_ppm = pair_count * n_tokens * 1_000_000 DIV
    (count_w1 * count_w2)`` — exp(PMI) scaled to parts-per-million,
    monotone in PMI, all-integer so DuckDB and Spark floor identically
    (same portability reasoning as ``tfidf_topk``).  Total order:
    (lift desc, pair_count desc, w1, w2).  Integer headroom: the product
    needs ``pair_count * n_tokens <= 9.2e12`` — beyond that (trillion-
    token corpora) swap the expression for DOUBLE ``ln`` PMI; ordering
    stays deterministic per-engine, just not bit-replayable cross-engine.

    Returns DataFrame[w1, w2, pair_count, count_w1, count_w2, lift_ppm],
    at most ``top_n`` rows.

    Physical shape: bigrams are a pure projection (``transform`` over the
    token array — no posexplode self-join); ONE exchange each for the
    bigram and unigram HashAggregates (both map-side combined, so the
    shuffle carries distinct grams × partial counts, not tokens); the
    unigram frame is vocabulary-sized and joins back **broadcast** twice;
    the corpus total is a broadcast 1-row crossJoin; the final top-n is a
    TakeOrdered (driver receives top_n rows only).  min_count prunes the
    pair frame BEFORE the joins.
    """
    from ..functions.text import tokens

    t = df.select(tokens(F.col(text_col)).alias('t'))
    pair = (
        _bigram_rows(t).groupBy('w1', 'w2')
        .agg(F.count('*').alias('pair_count'))
        .filter(F.col('pair_count') >= min_count)
    )
    uni = (
        t.select(F.explode('t').alias('w'))
        .filter(F.col('w') != '')
        .groupBy('w')
        .agg(F.count('*').alias('c'))
    )
    total = uni.agg(F.sum('c').alias('n_tokens'))
    scored = (
        pair.join(F.broadcast(uni.select(F.col('w').alias('w1'),
                                         F.col('c').alias('count_w1'))), 'w1')
        .join(F.broadcast(uni.select(F.col('w').alias('w2'),
                                     F.col('c').alias('count_w2'))), 'w2')
        .crossJoin(F.broadcast(total))
        .withColumn('lift_ppm', F.expr(
            'CAST(pair_count * n_tokens * 1000000'
            ' DIV (count_w1 * count_w2) AS BIGINT)'))
    )
    return (
        scored.select('w1', 'w2', 'pair_count', 'count_w1', 'count_w2', 'lift_ppm')
        .orderBy(F.desc('lift_ppm'), F.desc('pair_count'), 'w1', 'w2')
        .limit(top_n)
    )
