"""Physical-plan evidence tests: predicate pushdown, column pruning, and
partition pruning must actually reach the parquet scan (the 100-TB
contract PLANS.md documents — these tests pin it)."""
from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

SF_DIR = '/root/testdata/sf0.001'


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    df = (
        spark.read.parquet(f'{SF_DIR}/orders.parquet')
        .filter(F.col('o_custkey') == 7)
        .select('o_orderkey')
    )
    p = _plan(df)
    assert 'PushedFilters:' in p and 'o_custkey' in p.split('PushedFilters:')[1].split(']')[0], \
        'filter must reach the parquet scan as a pushed filter'


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection over the 9-column lineitem table must read a
    2-column schema at the source."""
    df = (
        spark.read.parquet(f'{SF_DIR}/lineitem.parquet')
        .select('l_orderkey', 'l_quantity')
    )
    p = _plan(df)
    read_schema = p.split('ReadSchema:')[1].splitlines()[0]
    assert 'l_orderkey' in read_schema and 'l_quantity' in read_schema
    assert 'l_returnflag' not in read_schema and 'l_extendedprice' not in read_schema


def test_kg_type_branch_prunes_to_key_columns(spark):
    """The dgraph.type branch of the KG plan reads ONLY the subject-key
    columns (PLANS.md section 1 claim)."""
    import __spark_entry__ as e

    intrinsic = e.q_kg_customer_intrinsic(spark, SF_DIR)
    p = _plan(intrinsic)
    schemas = [seg.splitlines()[0] for seg in p.split('ReadSchema:')[1:]]
    assert any('c_custkey' in s and 'c_name' not in s for s in schemas), \
        'type branch must prune to the key column only'


def test_ivf_inverted_file_partition_pruning(spark, tmp_path):
    """Materialized inverted file partitioned by cell: an nprobe query scan
    must prune to the probed partitions (PartitionFilters on cell)."""
    from dgraphpandas_spark.operators.simsearch import ivf_assign

    emb = spark.read.parquet(f'{SF_DIR}/embeddings.parquet')
    out = str(tmp_path / 'ivf')
    ivf_assign(emb, n_cells=8, dim=64, seed=7).write.partitionBy('cell').parquet(out)

    probe = spark.read.parquet(out).filter(F.col('cell').isin([1, 5]))
    p = _plan(probe)
    seg = p.split('PartitionFilters:')[1].split(']')[0]
    assert 'cell' in seg, 'cell filter must prune partitions at the scan'
    # and it actually prunes: only the probed cells' rows are read
    assert probe.select('cell').distinct().count() <= 2


def test_dedup_triples_is_a_skew_safe_partial_final_aggregate(spark):
    """dedup_triples over a hot subject compiles to a single
    partial→exchange→final hash aggregate, which is already skew-safe:
    the map-side partial collapses a hot key's duplicates to one row per
    task before the shuffle (see the operator docstring).  This pins the
    physical truth so the claim stays honest."""
    from dgraphpandas_spark.operators.canonicalize import dedup_triples

    triples = spark.range(1000).select(
        F.lit('hot').alias('subject'),
        F.lit('p').alias('predicate'),
        (F.col('id') % 5).cast('string').alias('object'),
        F.lit('<xs:string>').alias('type'),
    )
    p = _plan(dedup_triples(triples))
    exchanges = [seg.splitlines()[0] for seg in p.split('Exchange hashpartitioning(')[1:]]
    assert len(exchanges) == 1, f'expected 1 shuffle, got {len(exchanges)}'
    # partial aggregate BELOW the exchange = the map-side combine that
    # neutralizes hot-key skew
    assert p.split('Exchange hashpartitioning(')[1].count('HashAggregate') >= 1


def test_minhash_signatures_stay_hash_aggregated(spark):
    """Numeric (LONG) min-hash signatures keep every aggregate a
    HashAggregate with map-side combine; string/binary mins would fall
    back to SortAggregate (sort+spill per group) — PLANS.md §3 claim."""
    from dgraphpandas_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet').select('doc_id', 'text')
    p = _plan(minhash_lsh_candidates(docs, n=3, bands=4))
    phys = p.split('== Physical Plan ==')[1]
    assert 'SortAggregate' not in phys, 'signature path must stay HashAggregate'
    assert 'HashAggregate' in phys
    # round-4 de-spike: pair expansion is a within-bucket self-join (AQE
    # can split a hot bucket), NOT collect_set + double explode (k² rows
    # in one task, payload-carrying ObjectHashAggregate)
    assert 'collect_set' not in phys
    assert 'ObjectHashAggregate' not in phys
    assert any(j in phys for j in ('SortMergeJoin', 'ShuffledHashJoin', 'BroadcastHashJoin'))


def test_stratified_sample_is_a_fused_zero_shuffle_filter(spark):
    """sample_stratified is a pure scan→filter — no exchange, no extra
    projection stage; the rate CASE folds into the one Filter
    (PLANS.md §5f claim)."""
    from dgraphpandas_spark.operators.curation import sample_stratified

    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    kept = sample_stratified(docs, rates={'en': 0.5, 'de': 1.0}, default_rate=0.1)
    phys = _plan(kept).split('== Physical Plan ==')[1]
    assert 'Exchange' not in phys, 'sampling must not shuffle'
    assert 'Filter' in phys


def test_build_vocab_uses_bounded_topk_not_global_sort(spark):
    """build_vocab's top-k is TakeOrderedAndProject (per-task k-row heap);
    the full vocabulary is never globally sorted (PLANS.md §5f claim).
    The only Sort allowed is the final row_number window over k rows."""
    from dgraphpandas_spark.operators.curation import build_vocab

    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    phys = _plan(build_vocab(docs, k=50, min_count=2)).split('== Physical Plan ==')[1]
    assert 'TakeOrderedAndProject' in phys, 'top-k must be heap-based'
    # sorts: only the single-partition window over the k survivors — which
    # sits ABOVE the TakeOrderedAndProject, never below it on the full data
    below_topk = phys.split('TakeOrderedAndProject')[1]
    assert 'Sort ' not in below_topk, 'no global sort below the top-k'


def test_sessionize_one_exchange_one_sort_and_free_rollup(spark):
    """session_stats = ONE hash exchange on the key; lag + running-sum
    share a single per-key Sort; the per-session groupBy adds NO second
    exchange because (user_id, session_idx) preserves the user_id
    partitioning (PLANS.md §5f / sessions.py docstring claims)."""
    from dgraphpandas_spark.operators.sessions import session_stats

    events = spark.read.parquet(f'{SF_DIR}/events.parquet')
    phys = _plan(session_stats(events)).split('== Physical Plan ==')[1]
    n_exch = phys.count('Exchange hashpartitioning(')
    assert n_exch == 1, f'expected exactly 1 shuffle, got {n_exch}'
    n_sort = phys.count('Sort [')
    assert n_sort == 1, f'both windows must share one sort, got {n_sort}'
    assert phys.count('Window') <= 2


def test_entity_linking_broadcasts_the_dictionary(spark):
    """link_entities joins the triple stream against the canonical
    dictionary via BroadcastHashJoin — the big side is never shuffled."""
    import __spark_entry__ as e

    p = _plan(e.q_kg_link_entities(spark, SF_DIR))
    phys = p.split('== Physical Plan ==')[1]
    assert 'BroadcastHashJoin' in phys
    assert 'SortMergeJoin' not in phys


def test_repetition_stats_zero_exchange_staged_projections(spark):
    """text_repetition: doc-local arrays only — the physical plan must have
    ZERO exchanges, and the staged intermediates (__rep_s2 sorted grams,
    __rep_starts run starts) must survive as named projection columns so
    CollapseProject does not re-expand them into the HOF lambdas (the
    naive nested form was measured 2 orders of magnitude slower)."""
    import __spark_entry__ as e

    df = e.q_text_repetition(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 'Exchange' not in plan, 'repetition stats must not shuffle'
    assert '__rep_s2' in plan and '__rep_starts' in plan, \
        'staged intermediates must remain materialized projection columns'
    # exactly one array_sort: the sorted bigram array is computed once/row
    assert plan.count('array_sort') == 1


def test_semantic_dedup_is_an_equi_join_on_cell(spark):
    """SemDeDup's pair stage must be a shuffle equi-join keyed on cell —
    never a cartesian/broadcast-nested-loop all-pairs plan."""
    from dgraphpandas_spark.operators.dedup import semantic_dedup

    df = spark.read.parquet(f'{SF_DIR}/embeddings.parquet')
    out = semantic_dedup(df, threshold=0.4, centroids=[[1.0] * 64, [-1.0] * 64])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert 'CartesianProduct' not in plan
    assert 'BroadcastNestedLoopJoin' not in plan
    assert 'cell' in plan


def test_incremental_merge_default_path_never_sort_aggregates(spark):
    """merge_triples: pure anti-joins — the plan
    must contain no SortAggregate (var-length max) and no Window; the
    single-valued branch joins on (subject, predicate) only."""
    import __spark_entry__ as e

    df = e.q_kg_incremental_merge(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 'SortAggregate' not in plan
    assert 'Window' not in plan
    assert plan.count('LeftAnti') == 2, 'one anti-join per branch'


def test_knn_graph_plan_is_bucket_join_plus_one_window(spark):
    """knn_graph (PLANS.md §5y, round-5 shape): candidates come from an
    equi-join on the LSH bucket — never a cartesian/nested-loop — and the
    top-k is ONE Window (per-node rank).  Hot-bucket handling is an EAGER
    metadata-scale detection (collect of ≤2^n_planes counts): with no hot
    bucket (this data) the plan must carry NO guard at all — no anti-join,
    no extra union branch — the cap is free when it doesn't fire."""
    from dgraphpandas_spark.operators.simsearch import knn_graph

    df = spark.read.parquet(f'{SF_DIR}/embeddings.parquet')
    out = knn_graph(df, k=3, n_planes=8, dim=64, seed=42, multi_probe=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert 'CartesianProduct' not in plan
    assert 'BroadcastNestedLoopJoin' not in plan
    assert plan.count('Window [') == 1
    # rank<=k is pushed into WindowGroupLimit (Partial below the exchange +
    # Final above): each task keeps only k rows per node BEFORE the window
    # shuffle — the map-side-combine shape for per-key top-k
    assert 'WindowGroupLimit' in plan and 'Partial' in plan
    assert 'LeftAnti' not in plan, 'no-hot plan must not pay a guard join'
    assert 'Union' not in plan, 'fallback branch must not plan when no bucket is hot'
    assert 'bucket' in plan


def test_temperature_sampling_is_a_fused_zero_shuffle_filter(spark):
    """mixing_rates feeds sample_stratified: the sampling stage itself must
    stay the §5f zero-exchange scan→filter shape (the rates CASE constant-
    folds; the only aggregate ran earlier, driver-side, metadata-scale)."""
    from dgraphpandas_spark.operators.curation import mixing_rates, sample_stratified

    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    rates = mixing_rates(docs, 'lang', (3, 10))
    kept = sample_stratified(docs, rates, strata_col='lang')
    phys = _plan(kept).split('== Physical Plan ==')[1]
    assert 'Exchange' not in phys
    assert 'Filter' in phys


def test_transcript_branches_melt_only_their_own_columns(spark, tmp_path):
    """Horizontal entry on TRANSCRIPT_CONFIG (PLANS.md section 1): each
    branch is one scan + one Expand over its own columns.  The edge branch
    reads the key columns plus ``tool``; the intrinsic branch carries the
    dgraph.type row as one more Expand projection (no second scan, no
    Union); tool_nodes reads ``tool`` alone; the object scrub runs per
    source column on the wide frame, never as a per-long-row
    ``CASE WHEN predicate IN (…) THEN …``; under the default lists it is
    compiled to ``translate``/``replace`` (no ``regexp_replace``) below the
    Expand; and the edge branch skips null-``tool`` rows at the scan."""
    import re

    from dgraphpandas_spark import horizontal_transform
    from dgraphpandas_spark.operators.canonicalize import link_entities, tool_nodes
    from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG, synthetic_transcripts

    path = str(tmp_path / 'transcripts')
    synthetic_transcripts(spark, n_turns=200, seed=5).write.parquet(path)
    tr = spark.read.parquet(path)
    intrinsic, edges = horizontal_transform(tr, TRANSCRIPT_CONFIG, 'turn', assume_unique_subjects=True)

    def phys(df):
        return _plan(df).split('== Physical Plan ==')[1]

    def read_schemas(p):
        return [seg.splitlines()[0].strip() for seg in p.split('ReadSchema:')[1:]]

    p_edges, p_intrinsic = phys(edges), phys(intrinsic)
    assert read_schemas(p_edges) == ['struct<conv_id:string,turn_idx:int,tool:string>']

    assert p_intrinsic.count('FileScan') == 1
    assert 'Union' not in p_intrinsic
    assert re.search(r'Expand \[.*\[[^\[\]]*, dgraph\.type, turn\]\]', p_intrinsic), \
        'dgraph.type must be a projection of the intrinsic Expand'

    dictionary = spark.createDataFrame([('tool_search', 'tool_websearch')], 'raw string, canonical string')
    p_tools = phys(tool_nodes(link_entities(edges, dictionary, target_predicates=['tool'])))
    assert read_schemas(p_tools) == ['struct<tool:string>']

    per_row_scrub = re.compile(r'CASE WHEN \(?predicate#\d+ IN \([^)]*\)\)? THEN (regexp_replace|translate|replace)')
    for p in (p_edges, p_intrinsic):
        assert not per_row_scrub.search(p)
        assert 'regexp_replace' not in p, 'the default lists lower to translate/replace'
        above, below = p.split('Expand [', 1)
        assert 'translate(' in below and 'translate(' not in above, 'scrubs run below the Expand'
    assert 'PushedFilters: [IsNotNull(tool)]' in p_edges, 'null-tool rows are skipped at the scan'
