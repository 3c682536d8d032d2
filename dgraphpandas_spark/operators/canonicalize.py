"""Entity canonicalization & linking (north_star additions — NOT in the
reference, which delegates all identity resolution to
``dgraph live --upsertPredicate xid --xidmap``; see
/root/reference/samples/planets/publish.sh:12-13 and SURVEY §2.6).

Three pieces:

1. **Skew-safe dedup** of entity xids: triple-level ``dropDuplicates``
   runs as a two-phase hash aggregate (map-side partial → final), so hot
   conversations never concentrate on one reducer (see ``dedup_triples``).
2. **Broadcast dictionary linking**: edge objects (e.g. raw tool names) are
   joined against a small canonical dictionary with ``F.broadcast`` — a
   map-side hash join, zero shuffle of the big side.
3. **Graph completion** for the transcript model: turn→conversation edges,
   conversation nodes, canonical tool nodes.

Skew strategy at 10^12-turn scale: AQE skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled``, on in session.py) handles join
skew at runtime; exact-dedup aggregation skew is neutralized by map-side
partial combine (PLANS.md §5b), so it needs no salt.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .vertical import ILLEGAL_CHARACTERS, TRIPLE_COLUMNS, compile_scrub, subject_expr


def _xid(transcripts: DataFrame, key: list, key_seperator: str, dgraph_type: str):
    """The xid the horizontal entry gives a node keyed on ``key`` under the
    default C7 list, so the edges below attach to the turn nodes."""
    dtypes = {f.name: f.dataType for f in transcripts.schema.fields}
    return subject_expr(key, key_seperator, dgraph_type, dtypes, compile_scrub(ILLEGAL_CHARACTERS))


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Exact dedup of (subject, predicate, object, type).

    ``dropDuplicates`` executes as a partial → exchange → final hash
    aggregate, which is already skew-safe: the map-side partial aggregate
    collapses a hot key's duplicates to one row per task before the
    shuffle, so the reducer for a hot key receives at most n_tasks rows
    (pinned by tests/test_plan_evidence.py).  An explicit salt phase adds
    nothing on Spark — Catalyst's ``RemoveRedundantAggregates`` removes it
    and compiles the salted form to this same plan — so there is no salt
    option; explicit salting on Spark is for JOIN skew AQE cannot split
    (PLANS.md §5b).
    """
    return triples.dropDuplicates(TRIPLE_COLUMNS)


def link_entities(
    edges: DataFrame,
    dictionary: DataFrame,
    raw_col: str = 'raw',
    canonical_col: str = 'canonical',
    target_predicates: Optional[list] = None,
) -> DataFrame:
    """Rewrite edge objects through a canonical dictionary (alias → entity).

    ``dictionary(raw, canonical)`` is broadcast — map-side hash join, the
    triple stream is never shuffled.  Unmatched objects pass through
    unchanged (left join + coalesce).  ``target_predicates`` restricts the
    rewrite to specific edge predicates.
    """
    dim = F.broadcast(
        dictionary.select(F.col(raw_col).alias('_raw'), F.col(canonical_col).alias('_canonical'))
    )
    joined = edges.join(dim, on=edges['object'] == dim['_raw'], how='left')
    new_object = F.coalesce(F.col('_canonical'), F.col('object'))
    if target_predicates:
        new_object = F.when(
            F.col('predicate').isin(target_predicates), new_object
        ).otherwise(F.col('object'))
    return joined.withColumn('object', new_object).drop('_raw', '_canonical')


def conversation_edges(
    transcripts: DataFrame,
    key_seperator: str = '_',
    turn_type: str = 'turn',
    conversation_type: str = 'conversation',
) -> DataFrame:
    """turn→conversation edge triples:
    ``<turn_{conv}_{idx}> <conv> <conversation_{conv}> .``

    Derived straight from the source table — no join needed, the xid
    convention carries the linkage (same convention the reference relies on,
    docs/horizontal_and_vertical_formats.md:72-81).  Both xids are built
    and scrubbed as the horizontal entry builds the turn subject
    (``subject_expr`` with the default C7 list), null keys included.
    """
    return transcripts.select(
        _xid(transcripts, ['conv_id', 'turn_idx'], key_seperator, turn_type).alias('subject'),
        F.lit('conv').alias('predicate'),
        _xid(transcripts, ['conv_id'], key_seperator, conversation_type).alias('object'),
        F.lit(None).cast('string').alias('type'),
    )


def conversation_nodes(
    transcripts: DataFrame,
    key_seperator: str = '_',
    conversation_type: str = 'conversation',
) -> DataFrame:
    """One ``dgraph.type`` intrinsic triple per distinct conversation.
    Distinct over conv_id only — a pre-aggregated (partial agg) shuffle of
    the key column, not the full table."""
    keys = transcripts.select('conv_id').distinct()
    return (
        keys.select(
            _xid(keys, ['conv_id'], key_seperator, conversation_type).alias('subject'),
            F.lit('dgraph.type').alias('predicate'),
            F.lit(conversation_type).alias('object'),
            F.lit('<xs:string>').alias('type'),
        )
    )


def tool_nodes(
    edges: DataFrame,
    tool_predicate: str = 'tool',
    tool_type: str = 'tool',
) -> DataFrame:
    """dgraph.type triples for every distinct tool entity referenced by
    tool edges (objects are already qualified xids like ``tool_websearch``)."""
    return (
        edges.filter(F.col('predicate') == tool_predicate)
        .select('object')
        .distinct()
        .select(
            F.col('object').alias('subject'),
            F.lit('dgraph.type').alias('predicate'),
            F.lit(tool_type).alias('object'),
            F.lit('<xs:string>').alias('type'),
        )
    )


def merge_triples(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental KG merge with Dgraph upsert semantics — the compaction
    job of a continuously-built graph (Dgraph live-loader upserts mutate
    per predicate: a single-valued predicate's new value REPLACES the old
    one; multi-valued/edge predicates accumulate — reference delegates this
    to `dgraph live --upsertPredicate xid`, samples/planets/publish.sh:12).

    ``existing``/``delta``: triple frames (subject, predicate, object,
    type).  Edge rows are the rows whose ``type`` is null (the engine's
    edge convention).  Each batch holds at most one row per (subject,
    predicate) for single-valued predicates and is internally distinct on
    edges (true of any well-formed store and compacted delta).

    Merge is pure ANTI-JOINS: delta singles pass through, existing singles
    survive where their key is absent from the delta; new edges are the
    delta anti existing.  The single-valued branch's build side is the
    DELTA KEY SET — for the typical small-delta-vs-huge-store merge AQE
    turns it into a broadcast anti-join and the 100 TB store is NEVER
    shuffled.  No value-carrying aggregate exists (max over strings falls
    to SortAggregate on this engine — measured), no sort of the store.
    The edge anti-join does co-locate both sides on the full triple; with
    the store in the bucketed layout (plans/lineage.py) a
    storage-partitioned join removes that shuffle too.

    Returns the merged triple frame (same 4 columns).  Idempotent:
    re-applying a delta is a no-op — the property bucket-level resume
    (plans/lineage.py) relies on.
    """
    is_edge = F.col('type').isNull()
    e_single, d_single = existing.filter(~is_edge), delta.filter(~is_edge)
    single = d_single.unionByName(
        e_single.join(
            d_single.select('subject', 'predicate'), ['subject', 'predicate'], 'left_anti'
        )
    )
    e_edges, d_edges = existing.filter(is_edge), delta.filter(is_edge)
    edges = e_edges.unionByName(
        d_edges.join(e_edges, ['subject', 'predicate', 'object'], 'left_anti')
    )
    return single.unionByName(edges).select('subject', 'predicate', 'object', 'type')
