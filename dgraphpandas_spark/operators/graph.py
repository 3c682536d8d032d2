"""Graph analytics over extracted KG triples (engine additions beyond the
reference — the queries a KG consumer runs once the triples exist: node
importance, degree structure).

Reference parity note: the reference (kiran94/dgraphpandas) emits triples
and stops; these operators consume the (subject, predicate, object) edge
tables the engine extracts (see operators/canonicalize.py for the
construction side).  Architecture mirrors ``dedup.connected_components``:
fixed/driver-bounded iteration over DataFrames, a checkpoint per round to
truncate lineage (``checkpointing.truncate``: reliable when the session
has a checkpoint dir, local otherwise), labels/ranks shuffled — never
payloads.

One PageRank iteration loop: ``pagerank`` is ``pagerank_weighted`` with
unit weights and uniform teleport.  Ranks, contributions and md5 node
hashes go through ``functions/determinism.py``, so a DuckDB oracle
replays them bit for bit.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.determinism import md5_int, quantize, units
from .blocking import drop_hot_keys
from .checkpointing import truncate


def pagerank(
    edges: DataFrame,
    src: str = 'src',
    dst: str = 'dst',
    iters: int = 3,
    damping: float = 0.85,
    ndigits: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: ``pagerank_weighted``
    with every weight 1 and uniform teleport.  Returns DataFrame[id, pr].

    With unit weights a contribution pr·1/Σ1 is pr/outdegree exactly.
    The teleport term is (1−d)·(1/n) where the textbook form (and the
    ``kg_pagerank`` oracle) writes (1−d)/n: the two can differ by one ulp,
    which the per-round quantize absorbs unless a rank lies within that
    ulp of a rounding boundary.
    """
    unit = edges.select(
        F.col(src).alias('src'), F.col(dst).alias('dst'), F.lit(1).alias('weight')
    )
    return pagerank_weighted(unit, iters=iters, damping=damping, ndigits=ndigits)


def pagerank_weighted(
    edges: DataFrame,
    src: str = 'src',
    dst: str = 'dst',
    weight: str = 'weight',
    teleport: DataFrame | None = None,
    iters: int = 3,
    damping: float = 0.85,
    ndigits: int = 6,
) -> DataFrame:
    """Weighted / personalized PageRank over a weighted edge list —
    the ranking pass a KG consumer runs over the co-occurrence
    projection (``bipartite_project`` output), where edge multiplicity
    matters and the walk should restart near entities of interest.
    Returns DataFrame[id, pr].

    - **weighted**: a node's rank mass splits across out-edges in
      proportion to ``weight`` (contribution = pr·w / Σw(src)) instead
      of uniformly.  Keep weights INTEGER (co-occurrence counts are) —
      the per-src weight sums then stay exact on every engine; float
      weights would make Σw order-dependent across partial aggregates.
    - **personalized**: ``teleport`` is DataFrame[id, t] of restart
      weights (any positive integers — normalized by their sum; nodes
      absent from it get 0 restart mass, the true PPR semantics; ids
      must be UNIQUE — a duplicate id would fan out the node row in the
      teleport join).
      ``None`` means uniform 1/n — plain weighted PageRank.  The start
      vector pr₀ IS the normalized teleport vector.

    Determinism contract: ranks are quantized to ``ndigits`` after every
    iteration and contributions to integer pico-units before the per-dst
    sum (``functions/determinism.py``), so floating-point error cannot
    carry between engines; the teleport normalization is a single
    exact-integer division, so a DuckDB oracle unrolling the same rounds
    matches bit-for-bit.

    Scale shape (the 100 TB story): per iteration ONE shuffle-join of
    (src, pr·w/Σw) contributions keyed on src and ONE shuffle-agg by dst,
    key+double rows only, never payloads; AQE splits hub-node skew in the
    join (hubs are the web's power-law reality).  Edge list and teleport
    vector are checkpointed once (operators/checkpointing.py).  Dangling
    nodes (no out-edges) contribute no redistributed mass — the standard
    simplification; feed
    symmetrized edges (the projection is symmetrized) if every node must
    have out-degree ≥ 1.  The only driver actions are the node count
    (uniform teleport) or the 1-row teleport total (personalized).
    """
    # checkpoint the edge list FIRST: nodes/wout/ed/teleport all derive
    # from it, and an upstream that is itself expensive (the bipartite
    # projection) would otherwise be recomputed once per consumer
    e = truncate(edges.select(
        F.col(src).alias('src'), F.col(dst).alias('dst'), F.col(weight).alias('w')
    ))
    nodes = truncate(
        e.select(F.col('src').alias('id'))
        .unionByName(e.select(F.col('dst').alias('id')))
        .distinct()
    )
    wout = e.groupBy('src').agg(F.sum('w').alias('wout'))
    ed = truncate(e.join(wout, 'src'))

    if teleport is None:
        n = nodes.count()
        tvec = truncate(nodes.withColumn('t', F.lit(1.0) / F.lit(float(n))))
    else:
        tid, tw = teleport.columns[0], teleport.columns[1]
        tp = teleport.select(F.col(tid).alias('id'), F.col(tw).alias('tw'))
        total = tp.agg(F.sum('tw')).first()[0]
        if not total:
            raise ValueError('teleport weights must sum to a positive value')
        tvec = truncate(
            nodes.join(tp, 'id', 'left')
            .select('id', (F.coalesce(F.col('tw'), F.lit(0)) / F.lit(total)).alias('t'))
        )

    base = F.lit(1.0 - damping)
    pr = tvec.select('id', F.col('t').alias('pr'))
    for _ in range(iters):
        # contributions are quantized to integer PICO-units before the
        # per-dst sum (the unigram_logprob precedent): double addition is
        # not associative, so an unquantized Σ(pr·w/wout) depends on
        # partial-aggregate order — Spark's partials vs another engine's
        # scan order can flip the final quantize at a half-ulp boundary
        # on high-in-degree nodes; integer sums are order-free.  1e12
        # scale leaves ~1e5 in-degree of headroom under the 0.5e-6
        # rounding slack.
        contrib = (
            ed.join(pr.withColumnRenamed('id', 'src'), 'src')
            .select(
                F.col('dst').alias('id'),
                units(F.col('pr') * F.col('w') / F.col('wout'), 1e12).alias('c_pico'),
            )
        )
        sums = contrib.groupBy('id').agg((F.sum('c_pico') / 1e12).alias('s'))
        pr = tvec.join(sums, 'id', 'left').select(
            'id',
            quantize(
                base * F.col('t') + F.lit(damping) * F.coalesce(F.col('s'), F.lit(0.0)),
                ndigits,
            ).alias('pr'),
        )
        pr = truncate(pr, eager=False)
    return pr


def label_propagation(
    edges: DataFrame,
    src: str = 'src',
    dst: str = 'dst',
    iters: int = 3,
) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007) made
    fully deterministic: every node starts labeled with its own id; each
    round every node adopts the plurality label over its neighbors PLUS
    ITSELF (the self-vote damps the label-swapping oscillation pure
    synchronous LPA exhibits on bipartite graphs), ties broken by
    minimum label; ``iters`` is fixed (no convergence test) so both
    engines run the identical unrolled recurrence.  Returns
    DataFrame[id, label].

    All-integer/string arithmetic — counts and lexicographic min only,
    no floats — so the DuckDB oracle needs no quantization at all: the
    recurrence is exactly replayable by construction.

    Scale shape: the (symmetrized, distinct) adjacency is checkpointed
    once; per round ONE shuffle-join of labels against the adjacency
    (key + label rows only — payloads never move), ONE (node, label)
    HashAggregate with map-side combine, and one row_number window per
    node.  Hub skew lands in the join and the window the same way it
    does for pagerank — AQE splits the join; the per-node candidate
    label set is bounded by degree.
    """
    from pyspark.sql import Window

    und = (
        edges.select(F.col(src).alias('a'), F.col(dst).alias('b'))
        .unionByName(edges.select(F.col(dst).alias('a'), F.col(src).alias('b')))
        .distinct()
    )
    nodes = und.select(F.col('a').alias('id')).distinct()
    voters = truncate(
        und.unionByName(nodes.select(F.col('id').alias('a'), F.col('id').alias('b')))
        .distinct()
    )
    labels = nodes.select('id', F.col('id').alias('label'))
    w = Window.partitionBy('id').orderBy(F.desc('c'), F.asc('label'))
    for _ in range(iters):
        votes = (
            voters.join(labels.select(F.col('id').alias('b'), 'label'), 'b')
            .select(F.col('a').alias('id'), 'label')
            .groupBy('id', 'label')
            .agg(F.count('*').alias('c'))
        )
        labels = (
            votes.withColumn('rn', F.row_number().over(w))
            .filter(F.col('rn') == 1)
            .select('id', 'label')
        )
        labels = truncate(labels, eager=False)
    return labels


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 3,
    src: str = 'src',
    dst: str = 'dst',
) -> DataFrame:
    """Bounded-depth BFS: minimum hop distance (0..k) from the seed set
    for every reachable node.  Returns DataFrame[id, hop].

    The KG use: neighborhood expansion around an entity ("everything
    within 3 hops of this tool") — the query Dgraph answers with a
    recurse block; here it is k driver-bounded rounds of
    frontier-join + anti-join, the same iterate-on-DataFrames shape as
    ``pagerank``/``dedup.connected_components``.

    Scale shape: per hop ONE equi-join of the current frontier against
    the edge list keyed on ``src`` (AQE broadcasts the frontier while it
    is small — the common case for entity neighborhoods) and ONE
    anti-join against the visited set — both shuffle node-id strings
    only, never payloads.  Frontiers are checkpointed per round
    (operators/checkpointing.py) so lineage stays O(1); k is a driver
    constant, so there are no data-dependent driver actions at all — the
    whole expansion is one lazy plan per hop.
    """
    e = edges.select(F.col(src).alias('src'), F.col(dst).alias('dst'))
    frontier = truncate(seeds.select(F.col(seeds.columns[0]).alias('id')).distinct())
    visited = frontier.withColumn('hop', F.lit(0))
    for h in range(1, k + 1):
        frontier = truncate(
            e.join(frontier.withColumnRenamed('id', 'src'), 'src')
            .select(F.col('dst').alias('id'))
            .distinct()
            .join(visited.select('id'), 'id', 'left_anti')
        )
        visited = visited.unionByName(frontier.withColumn('hop', F.lit(h)))
    return visited


def bipartite_project(
    edges: DataFrame,
    src: str = 'src',
    dst: str = 'dst',
    max_src_degree: int | None = 1000,
) -> DataFrame:
    """Project a bipartite edge list onto the ``dst`` side: two dst nodes
    are connected iff they share a src, weighted by the number of DISTINCT
    shared srcs.  Returns DataFrame[a, b, weight] with ``a < b``
    (undirected, each pair once).

    The KG use: a conversation↔tool graph projects to a tool co-usage
    graph ("which tools appear in the same conversations") — the standard
    entity-affinity view.

    Scale shape: the projection is the textbook bipartite explosion — a
    src with degree d emits d² pairs, so one hot conversation touching
    10^5 tools would emit 10^10 rows.  ``max_src_degree`` is therefore ON
    by default: srcs above the cap are dropped BEFORE the self-join (the
    hot-key guard, operators/blocking.py).  The self-join itself is an
    equi-join on src (never all-pairs); the final weight rollup is a hash-groupBy on the (a, b) pair with map-side
    partials.  Edges are deduped to DISTINCT (src, dst) first so weight
    counts conversations, not event multiplicity.
    """
    e = drop_hot_keys(
        edges.select(F.col(src).alias('src'), F.col(dst).alias('dst')).distinct(),
        'src', max_src_degree,
    )
    a = e.select('src', F.col('dst').alias('a'))
    b = e.select('src', F.col('dst').alias('b'))
    return (
        a.join(b, 'src')
        .filter(F.col('a') < F.col('b'))
        .groupBy('a', 'b')
        .agg(F.count('*').alias('weight'))
    )


def triangle_count(pairs: DataFrame, a: str = 'a', b: str = 'b') -> DataFrame:
    """Count triangles in an undirected edge list given as canonical
    ``a < b`` pairs.  Returns a single-row DataFrame[n_triangles].

    Classic two-join formulation over the DIRECTED acyclic orientation
    (edges point low→high), which counts each triangle exactly once and
    caps the join fan-out by out-degree: wedges = e(x,y)⋈e(y,z), closed
    by probing e(x,z).  Both joins are equi-joins; at web scale the
    orientation trick is what keeps hub nodes from exploding (a hub's
    fan-out is its HIGHER-id neighbors only — the standard
    degree-ordering refinement would order by degree instead of id and
    is a drop-in swap of the comparison key).
    """
    e = pairs.select(F.col(a).alias('x'), F.col(b).alias('y'))
    wedge = (
        e.join(e.select(F.col('x').alias('y'), F.col('y').alias('z')), 'y')
        .select('x', 'y', 'z')
    )
    closed = wedge.join(
        e.select(F.col('x').alias('x'), F.col('y').alias('z')), ['x', 'z']
    )
    return closed.agg(F.count('*').alias('n_triangles'))


def degree_stats(edges: DataFrame, src: str = 'src', dst: str = 'dst') -> DataFrame:
    """Per-node (out_degree, in_degree) — one shuffle each side, full-outer
    merged on id.  Returns DataFrame[id, out_degree, in_degree]."""
    out = edges.groupBy(F.col(src).alias('id')).agg(F.count('*').alias('out_degree'))
    inn = edges.groupBy(F.col(dst).alias('id')).agg(F.count('*').alias('in_degree'))
    return (
        out.join(inn, 'id', 'full_outer')
        .select(
            'id',
            F.coalesce('out_degree', F.lit(0)).alias('out_degree'),
            F.coalesce('in_degree', F.lit(0)).alias('in_degree'),
        )
    )


def index_nodes(nodes: DataFrame, id_col: str = 'id', n_buckets: int = 64) -> DataFrame:
    """Assign every node a dense, deterministic integer index [0, n) WITHOUT
    a global sort: nodes hash into ``n_buckets`` buckets; per-bucket counts
    (one tiny aggregate) become driver-side prefix offsets; the final index
    is offset[bucket] + row_number within the bucket — the per-bucket
    window is PARTITIONED, so every bucket sorts in parallel.  The classic
    two-pass dense-id assignment (what zipWithIndex does under the hood,
    expressed in DataFrame ops so an oracle can replay it).  Returns
    DataFrame[id, idx].
    """
    from pyspark.sql import Window

    # md5-derived bucket (not xxhash64): every hash in this operator is
    # md5 so a DuckDB oracle reproduces the identical indices and draws
    # (same convention as operators/dedup.py)
    b = (md5_int(F.col(id_col).cast('binary'), 8) % n_buckets).cast('int')
    with_b = nodes.select(F.col(id_col).alias('id')).distinct().withColumn('__b', b)
    counts = {r['__b']: r['c'] for r in with_b.groupBy('__b').agg(F.count('*').alias('c')).collect()}
    offsets, acc = {}, 0
    for bk in sorted(counts):
        offsets[bk] = acc
        acc += counts[bk]
    off_expr = None
    for bk, off in offsets.items():
        off_expr = F.when(F.col('__b') == bk, F.lit(off)) if off_expr is None else off_expr.when(F.col('__b') == bk, F.lit(off))
    w = Window.partitionBy('__b').orderBy('id')
    return with_b.select(
        'id',
        (off_expr + F.row_number().over(w) - 1).cast('long').alias('idx'),
    )


def negative_sample(
    edges: DataFrame,
    nodes: DataFrame,
    k: int = 2,
    seed: int = 42,
    src: str = 'subject',
    rel: str = 'predicate',
    dst: str = 'object',
    strict: bool = False,
) -> DataFrame:
    """Corrupt-tail negative sampling for KG-embedding training (TransE
    et al.): each positive edge emits ``k`` negatives whose tail is a
    deterministic pseudo-random node ≠ the true tail.  Returns
    DataFrame[subject, predicate, object, neg_idx, neg_object].

    Determinism: the draw is ``md5(edge || i || seed) mod n`` (md5, not
    xxhash64 — reproducible in any SQL engine) — stable under
    re-runs/retries (no rand()); a collision with the TRUE tail is
    resolved by one linear probe (+1 mod n), which lands on a different
    node because indices are dense and unique (n ≥ 2 required).

    Scale shape: node indexing is the two-pass parallel assignment
    (``index_nodes``); the k-fan-out is a posexplode of a constant
    sequence (narrow); resolving draws to node strings is ONE equi-join
    against the index table keyed on idx (AQE broadcasts it while the
    node universe fits — for web-scale universes it is a co-partitioned
    shuffle join, still never all-pairs).

    Contract: every edge tail must appear in ``nodes`` — the tail join is
    INNER, so an edge whose object is missing from the node universe is
    silently dropped from the output.  Pass ``strict=True`` to detect
    that instead: a left-anti probe (one metadata-scale action) raises
    ValueError naming the dangling-tail count.
    """
    idx = index_nodes(nodes)
    n = idx.count()
    if n < 2:
        raise ValueError('negative sampling needs >= 2 distinct nodes')
    if strict:
        n_dangling = (
            edges.select(F.col(dst).alias('id')).join(idx, 'id', 'left_anti').count()
        )
        if n_dangling:
            raise ValueError(
                f'negative_sample: {n_dangling} edge(s) have tails missing from '
                f'nodes and would be silently dropped (strict=True)'
            )

    fan = edges.select(
        src, rel, dst,
        F.posexplode(F.array(*[F.lit(i) for i in range(k)])).alias('neg_idx', '__i'),
    ).drop('__i')
    key = F.concat_ws('|', F.col(src), F.col(rel), F.col(dst),
                      F.col('neg_idx').cast('string'), F.lit(str(seed)))
    draw = md5_int(key.cast('binary'), 8) % n
    with_true = fan.join(
        idx.select(F.col('id').alias(dst), F.col('idx').alias('__true_idx')), dst
    )
    resolved = with_true.withColumn(
        '__neg_idx_node',
        F.when(draw == F.col('__true_idx'), (draw + 1) % n).otherwise(draw),
    )
    return (
        resolved.join(
            idx.select(F.col('idx').alias('__neg_idx_node'), F.col('id').alias('neg_object')),
            '__neg_idx_node',
        )
        .select(src, rel, dst, 'neg_idx', 'neg_object')
    )
