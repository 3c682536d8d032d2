"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full KG triple extraction over the sf0.001
customer table.  ``queries()`` — one entry per implemented operator family
from SURVEY.md §2 plus the training-data ops (dedup / similarity / text /
multimodal).  ``oracle_sql()`` — exactly-mirrored ANSI SQL for DuckDB.

Column names are aligned between both sides; float-bearing outputs are
rounded to 6 dp on both sides; all hashes are md5 (identical hex in both
engines); LSH hyperplane constants are generated once driver-side and
embedded into BOTH the Spark plan and the SQL text.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dgraphpandas_spark import horizontal_transform, vertical_transform  # noqa: E402
from dgraphpandas_spark.functions import text as TX  # noqa: E402
from dgraphpandas_spark.functions.similarity import hyperplanes, plane_sql_literal  # noqa: E402
from dgraphpandas_spark.operators import dedup as DD  # noqa: E402
from dgraphpandas_spark.operators import simsearch as SS  # noqa: E402
from dgraphpandas_spark.operators.canonicalize import conversation_edges  # noqa: E402
from dgraphpandas_spark.plans.pipeline import to_rdf  # noqa: E402
from dgraphpandas_spark.writers.schema import create_schema, generate_schema, generate_types  # noqa: E402
from dgraphpandas_spark.writers.upserts import generate_upserts  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f'{sf_dir}/{name}.parquet')


@contextmanager
def _working_dir(prefix: str):
    """A ``tempfile.mkdtemp`` directory, removed on exit.  A query that
    writes there returns its result read into a local checkpoint inside
    the block, so the frame stays readable once the files are gone."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------- configs

CUSTOMER_CONFIG = {
    'files': {
        'customer': {
            'subject_fields': ['c_custkey'],
            'edge_fields': ['c_nationkey'],
            'type_overrides': {'c_acctbal': 'float64'},
        }
    }
}

EVENTS_CONFIG = {
    'files': {
        'event': {
            'subject_fields': ['event_id'],
            'edge_fields': ['user_id'],
            'ignore_fields': ['props'],
            'type_overrides': {'value': 'float64', 'ts': 'datetime64[ns]'},
            'date_fields': {'ts': {}},
        }
    }
}

ORDERS_CONFIG = {
    'files': {
        'order': {
            'subject_fields': ['o_custkey', 'o_orderkey'],
            'ignore_fields': ['o_orderpriority'],
            'type_overrides': {'o_totalprice': 'float64', 'o_orderdate': 'datetime64[ns]'},
            'date_fields': {'o_orderdate': {}},
        }
    }
}

ORDERS_OVERRIDE_CONFIG = {
    'files': {
        'order': {
            'subject_fields': ['o_orderkey'],
            'edge_fields': ['o_custkey'],
            'override_edge_name': {
                'o_custkey': {'predicate': 'customer', 'target_node_type': 'customer'}
            },
        }
    }
}

PART_CSV_CONFIG = {
    'files': {
        'part': {
            'subject_fields': ['p_partkey'],
            'csv_edges': ['names'],
            'edge_fields': ['names'],
        }
    }
}

NATION_CONFIG = {
    'files': {
        'nation': {
            'subject_fields': ['n_nationkey'],
            'pre_rename': {'n_name': 'name'},
            'ignore_fields': ['n_regionkey'],
        }
    }
}

LINEITEM_CONFIG = {
    'files': {
        'lineitem': {
            'subject_fields': ['l_orderkey', 'l_linenumber'],
            'edge_fields': ['l_partkey', 'l_suppkey'],
            'ignore_fields': ['l_extendedprice', 'l_discount', 'l_tax'],
            'type_overrides': {'l_quantity': 'float64', 'l_shipdate': 'datetime64[ns]'},
            'date_fields': {'l_shipdate': {}},
        }
    }
}

SUPPLIER_VERTICAL_CONFIG = {
    'transform': 'vertical',
    'files': {
        'supplier': {
            'subject_fields': ['s_suppkey'],
            'edge_fields': ['s_nationkey'],
            'predicate_field': 'attr',
            'object_field': 'val',
        }
    }
}

SCHEMA_CONFIG = {
    'files': {
        'turn': {
            'subject_fields': ['conv_id', 'turn_idx'],
            'edge_fields': ['tool'],
            'type_overrides': {'turn_idx': 'int32', 'ts': 'datetime64[ns]'},
            'options': {'tool': ['@reverse'], 'conv_id': ['@index(hash)']},
        },
        'conversation': {
            'subject_fields': ['conv_id'],
            'type_overrides': {'started': 'datetime64[ns]'},
            'list_edges': ['turns'],
            'edge_fields': ['turns'],
        },
    },
    'ensure_xid_predicate': True,
}

PLANES = hyperplanes(8, 64, seed=42)
CENTROIDS = hyperplanes(8, 64, seed=7)  # IVF coarse-quantizer constants

# ------------------------------------------------------------- KG queries


def q_kg_customer_intrinsic(spark, sf_dir):
    intrinsic, _ = horizontal_transform(_t(spark, sf_dir, 'customer'), CUSTOMER_CONFIG, 'customer')
    return intrinsic


def q_kg_customer_edges(spark, sf_dir):
    _, edges = horizontal_transform(_t(spark, sf_dir, 'customer'), CUSTOMER_CONFIG, 'customer')
    return edges


def q_kg_events_intrinsic(spark, sf_dir):
    intrinsic, _ = horizontal_transform(_t(spark, sf_dir, 'events'), EVENTS_CONFIG, 'event')
    return intrinsic


def q_kg_events_edges(spark, sf_dir):
    _, edges = horizontal_transform(_t(spark, sf_dir, 'events'), EVENTS_CONFIG, 'event')
    return edges


def q_kg_orders_composite(spark, sf_dir):
    intrinsic, _ = horizontal_transform(_t(spark, sf_dir, 'orders'), ORDERS_CONFIG, 'order')
    return intrinsic


def q_kg_orders_override_edge(spark, sf_dir):
    _, edges = horizontal_transform(
        _t(spark, sf_dir, 'orders'), ORDERS_OVERRIDE_CONFIG, 'order'
    )
    return edges


def q_kg_part_csv_edges(spark, sf_dir):
    part = _t(spark, sf_dir, 'part').select(
        'p_partkey', F.replace(F.col('p_name'), F.lit(' '), F.lit(',')).alias('names')
    )
    _, edges = horizontal_transform(part, PART_CSV_CONFIG, 'part')
    return edges


def q_kg_lineitem(spark, sf_dir):
    """Largest table: composite subject, two edge families, float +
    datetime renders, ignore_fields — the full refine chain at the biggest
    row count in the corpus."""
    intrinsic, edges = horizontal_transform(
        _t(spark, sf_dir, 'lineitem'), LINEITEM_CONFIG, 'lineitem'
    )
    return intrinsic.unionByName(edges)


def q_kg_nation_pre_rename(spark, sf_dir):
    intrinsic, _ = horizontal_transform(_t(spark, sf_dir, 'nation'), NATION_CONFIG, 'nation')
    return intrinsic


def q_kg_supplier_vertical(spark, sf_dir):
    sup = _t(spark, sf_dir, 'supplier')
    long_df = sup.selectExpr(
        's_suppkey',
        "stack(2, 's_name', s_name, 's_nationkey', cast(s_nationkey as string)) as (attr, val)",
    )
    intrinsic, edges = vertical_transform(long_df, SUPPLIER_VERTICAL_CONFIG, 'supplier')
    return intrinsic.unionByName(edges)


def q_kg_upserts_customer(spark, sf_dir):
    intrinsic, edges = horizontal_transform(
        _t(spark, sf_dir, 'customer'), CUSTOMER_CONFIG, 'customer'
    )
    il, el = generate_upserts(intrinsic, edges)
    return il.unionByName(el)


def q_kg_conversation_edges(spark, sf_dir):
    ev = _t(spark, sf_dir, 'events').select(
        F.concat(F.lit('u'), F.col('user_id')).alias('conv_id'),
        F.col('event_id').alias('turn_idx'),
    )
    return conversation_edges(ev)


def q_kg_link_entities(spark, sf_dir):
    """Entity canonicalization: rewrite edge objects through a broadcast
    alias->canonical dictionary (map-side hash join, left + coalesce;
    operators/canonicalize.py link_entities).  Dictionary derived
    deterministically from the events table (user buckets)."""
    from dgraphpandas_spark.operators.canonicalize import link_entities

    _, edges = horizontal_transform(_t(spark, sf_dir, 'events'), EVENTS_CONFIG, 'event')
    dictionary = (
        _t(spark, sf_dir, 'events')
        .select(
            F.concat(F.lit('user_'), F.col('user_id')).alias('raw'),
            F.concat(F.lit('canonical_user_'), F.pmod(F.col('user_id'), F.lit(10))).alias('canonical'),
        )
        .distinct()
    )
    return link_entities(edges, dictionary, target_predicates=['user'])


NATION_REGION_CONFIG = {
    'files': {
        'nation': {
            'subject_fields': ['n_nationkey'],
            'edge_fields': ['n_regionkey'],
            'ignore_fields': ['n_name'],
            'add_dgraph_type_records': False,
        }
    }
}


def q_kg_region_linked_edges(spark, sf_dir):
    """FK edge + canonicalization across tables: nation->region edges with
    the synthetic n_regionkey_K objects rewritten to named region nodes via
    a broadcast dictionary built from the region table."""
    from dgraphpandas_spark.operators.canonicalize import link_entities

    _, edges = horizontal_transform(
        _t(spark, sf_dir, 'nation'), NATION_REGION_CONFIG, 'nation'
    )
    dictionary = _t(spark, sf_dir, 'region').select(
        F.concat(F.lit('n_regionkey_'), F.col('r_regionkey')).alias('raw'),
        F.concat(F.lit('region_'), F.col('r_name')).alias('canonical'),
    )
    return link_entities(edges, dictionary)


def q_kg_schema_lines(spark, sf_dir):
    lines = generate_schema(create_schema(SCHEMA_CONFIG)).split('\n')
    return spark.createDataFrame([(l,) for l in lines], 'line string')


def q_kg_types_lines(spark, sf_dir):
    blocks = generate_types(create_schema(SCHEMA_CONFIG))
    return spark.createDataFrame([(b,) for b in blocks], 'block string')


def q_kg_rdf_gzip_roundtrip(spark, sf_dir):
    """S6 — gzip RDF sink round-trip: export via to_rdf, read the .gz part
    files back, and oracle-compare the line set (reference rdf.py:128-143)."""
    with _working_dir('rdf_roundtrip_') as out:
        to_rdf(
            _t(spark, sf_dir, 'customer'), CUSTOMER_CONFIG, 'customer',
            output_dir=out, export_rdf=True,
        )
        return (
            spark.read.text(f'{out}/customer_intrinsic.gz')
            .unionByName(spark.read.text(f'{out}/customer_edges.gz'))
            .withColumnRenamed('value', 'line')
        ).localCheckpoint(eager=True)


def q_orders_star_join(spark, sf_dir):
    """Star-schema rollup (TPC-H Q5 shape): orders ⋈ customer ⋈ nation ⋈
    region, revenue by nation, filtered to one region.  The fact table
    (orders) streams; every dimension is broadcast (pinned by
    tests/test_plan_evidence_joins.py — 3 BroadcastHashJoins, zero
    shuffle-exchanges before the final aggregate) and the region filter
    prunes the region dim BEFORE the join chain, so Catalyst's join
    reordering + pushdown do exactly what a 100 TB fact scan needs:
    dims to every executor, fact partitioned-in-place, one exchange for
    the final small rollup.  Money is aggregated as round(price*100)
    integer cents — exact in both engines."""
    orders = _t(spark, sf_dir, 'orders')
    cust = _t(spark, sf_dir, 'customer')
    nation = _t(spark, sf_dir, 'nation')
    region = _t(spark, sf_dir, 'region').filter(F.col('r_name') == 'ASIA')
    cents = F.round(F.col('o_totalprice') * 100, 0).cast('long')
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col('n_name').alias('nation'))
        .agg(
            F.count('*').alias('n_orders'),
            F.sum(cents).alias('revenue_cents'),
        )
    )


def q_events_pivot(spark, sf_dir):
    """Pivot — the inverse reshape of the engine's core melt (R1): per-user
    event counts spread into one column per event type.  Written as
    single-pass CONDITIONAL aggregation over a fixed column list, NOT
    `DataFrame.pivot`: measured, pivot() plans a hidden double shuffle
    (pre-aggregate on (key, pivot-col) then re-aggregate on key) and the
    no-values form adds a driver round-trip for the distinct key space.
    This form is ONE HashAggregate pair over ONE exchange on user_id
    (pinned by tests/test_plan_evidence_joins.py) and mirrors the oracle's
    FILTER clauses exactly."""
    ev = _t(spark, sf_dir, 'events')
    kinds = ['click', 'view', 'purchase', 'signup', 'error']
    return ev.groupBy('user_id').agg(
        *[
            F.count(F.when(F.col('event_type') == k, 1)).alias(f'n_{k}')
            for k in kinds
        ]
    )


def q_docs_set_ops(spark, sf_dir):
    """Set operations (§2.8): doc ids passing the quality gate INTERSECT /
    EXCEPT those passing the language gate, labeled and unioned.  Both
    engines evaluate the same set algebra; Spark plans INTERSECT/EXCEPT
    as hash semi/anti joins over the two key-only sides."""
    d = _t(spark, sf_dir, 'documents')
    q_pass = d.filter(F.round(TX.quality_score(F.col('text')), 6) >= 0.5).select('doc_id')
    l_pass = d.filter(F.col('lang') == 'en').select('doc_id')
    both = q_pass.intersect(l_pass).withColumn('gate', F.lit('both'))
    q_only = q_pass.subtract(l_pass).withColumn('gate', F.lit('quality_only'))
    return both.unionByName(q_only).groupBy('gate').agg(F.count('*').alias('n_docs'))


def q_source_orc_roundtrip(spark, sf_dir):
    """S1 source-format coverage beyond parquet/CSV/gzip-text: write the
    events projection to ORC (Spark's other native columnar format — same
    vectorized-reader pushdown/pruning contract as parquet), read it back
    through the ``sources.table_format.read_table`` seam, and aggregate.
    Doubles survive ORC bit-exactly, so the micro-integer sums match the
    oracle computed straight off the parquet view."""
    from dgraphpandas_spark.sources.table_format import read_table

    with _working_dir('orc_rt_') as tmp:
        out = os.path.join(tmp, 'events.orc')
        ev = _t(spark, sf_dir, 'events').select('event_id', 'event_type', 'value')
        ev.write.mode('overwrite').orc(out)
        back = read_table(spark, out)
        return back.groupBy('event_type').agg(
            F.count('*').alias('n'),
            F.sum(F.round(F.col('value') * 1e6, 0).cast('long')).alias('v_sum_micro'),
            F.min('event_id').alias('min_id'),
            F.max('event_id').alias('max_id'),
        ).localCheckpoint(eager=True)


CALLABLE_VERTICAL_CONFIG = {
    'transform': 'vertical',
    'files': {
        'supplier': {
            # C11 — callables resolved against the frame at plan time
            # (reference vertical_helpers.py:266-281)
            'subject_fields': lambda f: ['s_suppkey'],
            'edge_fields': lambda f: ['s_nationkey'] if 'attr' in f.columns else [],
            'predicate_field': 'attr',
            'object_field': 'val',
        }
    },
}


def q_kg_callable_config(spark, sf_dir):
    """C11 — same output as kg_supplier_vertical, but every config field the
    reference allows as a callable is supplied as one."""
    sup = _t(spark, sf_dir, 'supplier')
    long_df = sup.selectExpr(
        's_suppkey',
        "stack(2, 's_name', s_name, 's_nationkey', cast(s_nationkey as string)) as (attr, val)",
    )
    intrinsic, edges = vertical_transform(long_df, CALLABLE_VERTICAL_CONFIG, 'supplier')
    return intrinsic.unionByName(edges)


EVENTS_IDCONV_CONFIG = {
    'files': {
        'event': {
            'subject_fields': ['event_id'],
            # C12 — no edge_fields: every *_id predicate becomes an edge
            # (reference vertical_helpers.py:299-305)
            'edge_id_convention': True,
            'ignore_fields': ['props', 'value', 'ts'],
        }
    }
}


def q_kg_edge_id_convention(spark, sf_dir):
    intrinsic, edges = horizontal_transform(
        _t(spark, sf_dir, 'events'), EVENTS_IDCONV_CONFIG, 'event'
    )
    return intrinsic.unionByName(edges)


def q_stream_event_windows(spark, sf_dir):
    """Structured Streaming with a REAL oracle: watermarked windowed counts
    over the events table as a file stream, drained with
    ``Trigger.AvailableNow`` into a memory sink.  Append mode emits exactly
    the windows closed by the final watermark (max ts − lateness) — a
    deterministic set the DuckDB oracle reproduces with a batch GROUP BY
    plus the same closed-window cutoff."""
    import os

    from dgraphpandas_spark.streaming.windows import windowed_counts

    with _working_dir('stream_ev_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        shutil.copy(f'{sf_dir}/events.parquet', os.path.join(indir, 'events.parquet'))
        schema = ('event_id bigint, ts timestamp, user_id bigint, '
                  'event_type string, value double, props string')
        stream = spark.readStream.schema(schema).parquet(indir)
        out = windowed_counts(stream, 'ts', 'event_type', '1 day', '1 hour')
        name = 'stream_ev_' + os.path.basename(tmp).replace('stream_ev_', '')
        q = (
            out.writeStream.trigger(availableNow=True)
            .outputMode('append')
            .format('memory')
            .queryName(name)
            .option('checkpointLocation', os.path.join(tmp, 'ck'))
            .start()
        )
        q.awaitTermination()
        return spark.table(name).localCheckpoint(eager=True)


def q_stream_stateful_sessions(spark, sf_dir):
    """Custom stateful streaming operator (``applyInPandasWithState``) with
    a REAL oracle: events mapped to transcript-shaped turns, streamed as ONE
    AvailableNow micro-batch (single input file → single batch), so each
    conversation emits exactly one final session row — a deterministic set
    equal to a batch GROUP BY, which the DuckDB oracle reproduces."""
    import os

    from dgraphpandas_spark.streaming.stateful import conversation_sessions

    with _working_dir('stream_state_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        shutil.copy(f'{sf_dir}/events.parquet', os.path.join(indir, 'events.parquet'))
        schema = ('event_id bigint, ts timestamp, user_id bigint, '
                  'event_type string, value double, props string')
        stream = (
            spark.readStream.schema(schema).parquet(indir)
            .select(
                F.concat(F.lit('u'), F.col('user_id')).alias('conv_id'),
                F.col('event_id').cast('int').alias('turn_idx'),
                F.col('event_type').alias('role'),
                F.col('props').alias('text'),
                # deterministic tool mapping: non-click events "invoke a tool"
                F.when(F.col('event_type') != 'click', F.col('event_type')).alias('tool'),
                'ts',
            )
        )
        out = conversation_sessions(stream)
        name = 'stream_state_' + os.path.basename(tmp).replace('stream_state_', '')
        q = (
            out.writeStream.trigger(availableNow=True)
            .outputMode('update')
            .format('memory')
            .queryName(name)
            .option('checkpointLocation', os.path.join(tmp, 'ck'))
            .start()
        )
        q.awaitTermination()
        return spark.table(name).localCheckpoint(eager=True)


# ---------------------------------------------------- training-data queries


def _documents_with_dups(spark, sf_dir):
    """Documents unioned with a shifted copy → guaranteed exact duplicates."""
    d = _t(spark, sf_dir, 'documents')
    return d.select('doc_id', 'text').unionByName(
        d.select((F.col('doc_id') + 1_000_000).alias('doc_id'), 'text')
    )


def q_dedup_exact(spark, sf_dir):
    return DD.exact_dedup(_documents_with_dups(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    return DD.ngram_jaccard_pairs(
        _documents_with_dups(spark, sf_dir), n=3, threshold=0.8
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    return DD.minhash_lsh_candidates(_documents_with_dups(spark, sf_dir), n=3, bands=4)


def q_dedup_clusters(spark, sf_dir):
    """Full dedup pipeline: LSH candidates → exact-Jaccard verify →
    connected components (min-label propagation) → per-cluster keep flag.
    Oracle mirrors the components via a recursive CTE."""
    out = DD.dedup_clusters(
        _documents_with_dups(spark, sf_dir), n=3, bands=4, threshold=0.8
    )
    return out.withColumn('keep', F.col('keep').cast('int'))


def q_dedup_blocks(spark, sf_dir):
    """Sub-document boilerplate removal (CCNet/RefinedWeb line-level dedup
    generalized to 8-token blocks — operators/dedup.py:block_dedup) over a
    corpus where 20% of documents have a planted verbatim copy: every
    block of a copied document crosses the >1-distinct-docs threshold and
    is stripped (clean_fp = md5('')), untouched documents keep all blocks.
    Within-document repeats survive (count DISTINCT doc per block)."""
    d = _t(spark, sf_dir, 'documents')
    corpus = d.select('doc_id', 'text').unionByName(
        d.filter(F.col('doc_id') % 5 == 0)
        .select((F.col('doc_id') + 1_000_000).alias('doc_id'), 'text')
    )
    return DD.block_dedup(corpus, block=8, max_docs=1)


def q_dedup_spans(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2021 — the
    suffix-array dedup re-expressed as positional shingles,
    operators/dedup.py:dup_spans): per-doc fraction of tokens covered by
    any 8-token sequence appearing verbatim in another document, over a
    corpus where 20% of docs have a planted copy.  Marking is a semi-join
    (linear fan-out, no pair expansion); overlapping spans merge via the
    sorted-starts gap fold."""
    d = _t(spark, sf_dir, 'documents')
    corpus = d.select('doc_id', 'text').unionByName(
        d.filter(F.col('doc_id') % 5 == 0)
        .select((F.col('doc_id') + 1_000_000).alias('doc_id'), 'text')
    )
    return DD.dup_spans(corpus, n=8)


def q_corpus_curation(spark, sf_dir):
    """End-to-end corpus curation: quality+language gate, then MinHash-LSH
    near-dup collapse among survivors (operators/curation.py).  The
    composite pass a training-data pipeline actually runs."""
    from dgraphpandas_spark.operators.curation import curate_corpus

    return curate_corpus(
        _documents_with_dups(spark, sf_dir),
        min_quality=0.5, langs=('en',), n=3, bands=4, threshold=0.8,
    )


def q_corpus_decontaminate(spark, sf_dir):
    """Decontamination: every ~97th document plays the eval set; training
    docs sharing any word 5-gram with it are flagged with hit counts
    (eval n-grams broadcast — the corpus side never shuffles)."""
    from dgraphpandas_spark.operators.curation import decontaminate

    d = _t(spark, sf_dir, 'documents')
    ev = d.filter(F.col('doc_id') % 97 == 0)
    return decontaminate(d, ev, n=5).withColumnRenamed('id', 'doc_id')


def q_text_pii_redact(spark, sf_dir):
    """PII scrub (curation stage): deterministic emails/SSNs/phones are
    planted into every document on BOTH engines, then redacted to
    <KIND> placeholders with per-kind counts and a fingerprint of the
    redacted text — zero-shuffle codegen expressions."""
    from dgraphpandas_spark.functions.text import pii_counts, redact_pii

    d = _t(spark, sf_dir, 'documents')
    planted = d.select(
        'doc_id',
        F.concat(
            F.col('text'),
            F.lit(' call 555-123-4567 ssn '),
            F.lpad((F.col('doc_id') % 1000).cast('string'), 3, '0'),
            F.lit('-45-6789 mail u'),
            F.col('doc_id').cast('string'),
            F.lit('@example.com'),
        ).alias('text'),
    )
    counts = pii_counts(F.col('text'))
    return planted.select(
        'doc_id',
        counts['email'].alias('n_email'),
        counts['ssn'].alias('n_ssn'),
        counts['phone'].alias('n_phone'),
        F.md5(redact_pii(F.col('text'))).alias('red_fp'),
    )


def q_corpus_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (98/1/1): membership
    is a pure function of doc_id — stable under re-runs, repartitioning
    and appends, unlike DataFrame.sample.  Zero-shuffle projection."""
    from dgraphpandas_spark.operators.curation import split_corpus

    d = _t(spark, sf_dir, 'documents')
    return (
        split_corpus(d, id_col='doc_id')
        .groupBy('split')
        .agg(F.count('*').alias('n_docs'))
    )


def q_corpus_pack(spark, sf_dir):
    """Sequence packing for pretraining: concat-then-chunk offset packing
    into 512-token bins, parallel across 8 md5 shards (one exchange on
    shard, running-sum window within)."""
    from dgraphpandas_spark.operators.curation import pack_sequences

    d = _t(spark, sf_dir, 'documents')
    packed = pack_sequences(d, capacity=512, n_shards=8)
    return packed.groupBy('shard', 'pack_id').agg(
        F.count('*').alias('n_docs'),
        F.sum('n_tokens').alias('pack_tokens'),
    )


def q_corpus_sample_stratified(spark, sf_dir):
    """Data mixing: deterministic per-language hash sampling (keep 100%
    de, 50% en, 25% fr, 10% es, 5% default) — membership is a pure
    function of doc_id, so the kept set is stable under re-runs,
    repartitioning and appends.  Zero-shuffle filter; the rollup checks
    the exact kept set (count + id-sum per language)."""
    from dgraphpandas_spark.operators.curation import sample_stratified

    d = _t(spark, sf_dir, 'documents')
    kept = sample_stratified(
        d,
        rates={'de': 1.0, 'en': 0.5, 'fr': 0.25, 'es': 0.1},
        strata_col='lang',
        default_rate=0.05,
    )
    return kept.groupBy('lang').agg(
        F.count('*').alias('n_kept'),
        F.sum('doc_id').alias('id_sum'),
        F.min('doc_id').alias('id_min'),
        F.max('doc_id').alias('id_max'),
    )


def q_corpus_chunk(spark, sf_dir):
    """RAG/embedding prep: sliding-window chunking (size 32, stride 24 —
    8-token overlap) of every document (curation.py:chunk_documents).
    Pure array expressions + one posexplode, zero shuffles; emits the
    chunk fingerprint so the oracle pins exact window content and
    order."""
    from dgraphpandas_spark.operators.curation import chunk_documents

    d = _t(spark, sf_dir, 'documents')
    c = chunk_documents(d, size=32, stride=24)
    return c.select(
        F.col('id').alias('doc_id'), 'chunk_idx', 'n_chunk_tokens',
        F.md5(F.col('chunk_text').cast('binary')).alias('chunk_fp'),
    )


def q_corpus_sample_weighted(spark, sf_dir):
    """Quality-weighted importance sampling
    (operators/curation.py:sample_weighted): each document survives with
    probability equal to its 6-dp quality score — higher-quality data is
    over-represented in the training mix, the standard quality-weighted
    sampling curriculum.  Acceptance is the deterministic md5-hash
    uniform (reproducible under retries/appends); zero exchanges."""
    from dgraphpandas_spark.operators.curation import sample_weighted

    d = _t(spark, sf_dir, 'documents')
    q = F.round(TX.quality_score(F.col('text')), 6)
    return sample_weighted(d.withColumn('quality', q), F.col('quality')).select(
        'doc_id', 'lang', 'quality'
    )


def q_stream_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment
    (streaming/stream.py:enrich_stream): events streamed in TWO forced
    micro-batches, each joined map-side against a static user-tier
    dimension (no shuffle of the micro-batch, no state, append mode) —
    the streaming twin of batch entity linking.  Oracle = the batch
    join, valid because a stateless stream-static join is
    batch-equivalent under AvailableNow."""
    from dgraphpandas_spark.streaming.stream import enrich_stream

    with _working_dir('stream_enrich_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        ev = _t(spark, sf_dir, 'events')
        for par in (0, 1):
            ev.filter(F.col('event_id') % 2 == par).coalesce(1).write.mode('append').parquet(indir)
        dim = ev.select('user_id').distinct().select(
            'user_id', (F.col('user_id') % 3).alias('tier')
        )
        stream = (
            spark.readStream.schema(ev.schema).option('maxFilesPerTrigger', 1).parquet(indir)
        )
        out = enrich_stream(stream, dim, on='user_id').select(
            'event_id', 'user_id', 'tier',
            F.round(F.col('value') * 1e6, 0).cast('long').alias('v_micro'),
        )
        name = 'stream_enrich_' + os.path.basename(tmp).replace('stream_enrich_', '')
        q = (
            out.writeStream.trigger(availableNow=True)
            .outputMode('append')
            .format('memory')
            .queryName(name)
            .option('checkpointLocation', os.path.join(tmp, 'ck'))
            .start()
        )
        q.awaitTermination()
        return spark.table(name).localCheckpoint(eager=True)


def q_text_vocab_topk(spark, sf_dir):
    """Tokenizer vocab build: top-200 whitespace tokens by frequency with
    deterministic token ids (count DESC, token ASC — total order).  One
    token-keyed exchange + TakeOrderedAndProject; the full vocabulary is
    never globally sorted."""
    from dgraphpandas_spark.operators.curation import build_vocab

    d = _t(spark, sf_dir, 'documents')
    v = build_vocab(d, k=200, min_count=2)
    return v.select(
        'token',
        'n_docs',
        'n_occurrences',
        F.col('token_id').cast('long').alias('token_id'),
    )


_BPE_MERGES = 8
_BPE_PATTERN = '^[a-z0-9]+$'


def q_corpus_bpe(spark, sf_dir):
    """BPE trainer (operators/curation.py:bpe_train): 8 iterated pair
    merges over the documents word-frequency table — argmax pair per
    round under the total order (count DESC, left, right), greedy
    leftmost non-overlapping merge via the double-delimiter string
    replace.  One corpus scan; each round is vocab-sized (one pair
    groupBy + a 1-row argmax collect)."""
    from dgraphpandas_spark.operators.curation import bpe_train

    d = _t(spark, sf_dir, 'documents')
    return bpe_train(d, n_merges=_BPE_MERGES, token_pattern=_BPE_PATTERN)


def q_corpus_bpe_encode(spark, sf_dir):
    """BPE encode (operators/curation.py:bpe_apply): replay the trained
    merge table over every document — the merge list compiles into ONE
    chained replace projection (zero shuffle until the per-doc regroup).
    Emits per-doc word/subword counts and the fingerprint of the ordered
    subword sequence — values only an order-preserving segmentation can
    produce."""
    from dgraphpandas_spark.operators.curation import bpe_apply, bpe_train

    d = _t(spark, sf_dir, 'documents')
    merges = bpe_train(d, n_merges=_BPE_MERGES, token_pattern=_BPE_PATTERN)
    seg = bpe_apply(d, merges, token_pattern=_BPE_PATTERN)
    return seg.select(
        F.col('id').alias('doc_id'),
        'n_words',
        'n_subwords',
        F.md5(F.array_join('subwords', ' ').cast('binary')).alias('subwords_fp'),
    )


def q_corpus_bpe_encode_trie(spark, sf_dir):
    """Same output contract as corpus_bpe_encode through the PRODUCTION
    encode path (operators/curation.py:bpe_apply(method='trie')): the
    pair→rank merge table is broadcast once per executor and applied in
    Arrow mapInPandas with per-batch word memoization — the 50k-merge
    backend the chained-replace projection can't compile to.  Min-rank
    encode is confluent with rank-order replay for trainer-produced
    tables (docstring proof + tests/test_bpe.py 200-merge differential),
    so this query shares corpus_bpe_encode's oracle verbatim."""
    from dgraphpandas_spark.operators.curation import bpe_apply, bpe_train

    d = _t(spark, sf_dir, 'documents')
    merges = bpe_train(d, n_merges=_BPE_MERGES, token_pattern=_BPE_PATTERN)
    seg = bpe_apply(d, merges, token_pattern=_BPE_PATTERN, method='trie')
    return seg.select(
        F.col('id').alias('doc_id'),
        'n_words',
        'n_subwords',
        F.md5(F.array_join('subwords', ' ').cast('binary')).alias('subwords_fp'),
    )


def q_corpus_sample_temperature(spark, sf_dir):
    """Temperature-based data mixing (operators/curation.py:mixing_rates,
    α=1/2 — the XLM-R/mT5 multilingual upsampling rule): keep rates
    allocated ∝ sqrt(n_lang) toward a 30% corpus target, exact integer
    micro-rate arithmetic (sqrt is the one IEEE-correctly-rounded power,
    so the DuckDB oracle replays the allocation bit-for-bit), then the
    deterministic md5-hash membership filter of sample_stratified."""
    from dgraphpandas_spark.operators.curation import mixing_rates, sample_stratified

    d = _t(spark, sf_dir, 'documents')
    rates = mixing_rates(d, 'lang', (3, 10))
    kept = sample_stratified(d, rates, strata_col='lang')
    return kept.groupBy('lang').agg(
        F.count('*').alias('n_kept'),
        F.sum('doc_id').cast('long').alias('id_sum'),
        F.min('doc_id').alias('id_min'),
        F.max('doc_id').alias('id_max'),
    )


def q_emb_knn_graph(spark, sf_dir):
    """Approximate kNN graph over the embedding corpus
    (operators/simsearch.py:knn_graph) — every vector's top-5 cosine
    neighbors among its Hamming≤1 LSH bucket candidates: one equi-join on
    bucket, one per-node window; ties broken by ascending neighbor id so
    the graph is a total order.  No bucket is hot at this cap/data, so the
    plan carries no guard (round-5 shape, test_plan_evidence)."""
    from dgraphpandas_spark.operators.simsearch import knn_graph

    return knn_graph(
        _t(spark, sf_dir, 'embeddings'), k=5, n_planes=8, dim=64, seed=42,
        multi_probe=True,
    )


def q_emb_knn_graph_hot(spark, sf_dir):
    """kNN graph with a LOW cap so the round-5 hot-bucket FALLBACK path
    fires on this data (simsearch.py:knn_graph, r4 verdict item #4):
    4 planes → ≤16 buckets over the corpus, max_bucket=40 makes the dense
    ones hot; their members are re-bucketed by 4 independent sub-planes
    (seed+104729) and joined within (bucket, sub) with Hamming-1 sub
    probing, instead of being silently dropped.  The oracle mirrors both
    branches (anti/semi split, sub refinement, probe union) exactly."""
    from dgraphpandas_spark.operators.simsearch import knn_graph

    return knn_graph(
        _t(spark, sf_dir, 'embeddings'), k=5, n_planes=4, dim=64, seed=42,
        multi_probe=True, max_bucket=40, n_sub_planes=4,
    )


def q_emb_knn_graph_ivf(spark, sf_dir):
    """kNN graph, IVF variant: candidates from the k-means-trained coarse
    quantizer cell (train_ivf_centroids + ivf_assign — the SemDeDup
    blocking) instead of LSH buckets; one within-cell equi-join + the same
    per-node WindowGroupLimit top-k.  The oracle replays the identical
    quantized training rounds (shared _kmeans_ctes)."""
    from dgraphpandas_spark.operators.simsearch import knn_graph

    return knn_graph(
        _t(spark, sf_dir, 'embeddings'), k=5, method='ivf', n_cells=8, iters=2
    )


def q_corpus_tokenize(spark, sf_dir):
    """Vocab-encode step (operators/curation.py:encode_tokens): documents
    → token-id sequences against the deterministic top-200 vocab
    (build_vocab), OOV → 0.  Emits per-doc n_tokens / n_oov and the md5
    fingerprint of the ordered id sequence — values only an
    order-preserving encode can produce.  Broadcast vocab lookup; one
    regroup exchange on doc_id."""
    from dgraphpandas_spark.operators.curation import build_vocab, encode_tokens

    d = _t(spark, sf_dir, 'documents')
    v = build_vocab(d, k=200, min_count=2)
    enc = encode_tokens(d, v)
    return enc.select(
        F.col('id').alias('doc_id'),
        'n_tokens',
        'n_oov',
        F.md5(F.array_join(F.transform(F.col('ids'), lambda i: i.cast('string')), ',').cast('binary')).alias('ids_fp'),
    )


def q_text_unigram_logprob(spark, sf_dir):
    """Self-scored unigram LM log-probability per document
    (operators/curation.py:unigram_logprob) — the model-based quality
    proxy (CCNet-style perplexity filtering without a trained model).
    Per-token nats quantized to integer micros before summation, so both
    engines aggregate exact integers."""
    from dgraphpandas_spark.operators.curation import unigram_logprob

    d = _t(spark, sf_dir, 'documents')
    return unigram_logprob(d).select(
        F.col('id').alias('doc_id'), 'n_tokens', 'avg_logprob'
    )


def q_text_bigram_logprob(spark, sf_dir):
    """Held-out Stupid-Backoff bigram LM scoring (operators/curation.py:
    bigram_logprob): the LM trains on doc_id % 5 != 0 and scores the
    held-out fifth — seen bigrams, unigram-backoff and OOV branches all
    live.  Integer micro-nat quantization per branch keeps both engines'
    sums exact."""
    from dgraphpandas_spark.operators.curation import bigram_logprob

    d = _t(spark, sf_dir, 'documents')
    return bigram_logprob(
        d.filter('doc_id % 5 = 0'), train_df=d.filter('doc_id % 5 <> 0')
    ).select(F.col('id').alias('doc_id'), 'n_bigrams', 'avg_logprob')


def q_corpus_source_cap(spark, sf_dir):
    """Per-source document cap (operators/curation.py:cap_per_source) —
    C4/RefinedWeb source balancing: top-10 docs per source by the
    deterministic quality heuristic, one audit row per input doc (kept
    boolean, never a silent drop).  One exchange keyed on source, one
    row_number window."""
    from dgraphpandas_spark.operators.curation import cap_per_source

    d = _t(spark, sf_dir, 'documents')
    return cap_per_source(d, max_per_source=10).select(
        F.col('id').alias('doc_id'), 'source', 'quality',
        F.col('rank').cast('long').alias('rank'), 'kept',
    )


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment pairs (operators/dedup.py:
    containment_pairs) over the corpus augmented with planted partial
    copies: every 10th doc re-enters truncated to its first half
    (id + 3,000,000) — the winnowing-fingerprint join must report the
    truncations as contained in their sources at high ppm.  Directed
    hash equi-join, hot-hash guard, integer-ppm ratio."""
    from dgraphpandas_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, 'documents').select('doc_id', 'text')
    aug = d.unionByName(
        d.filter('doc_id % 10 = 0').select(
            (F.col('doc_id') + 3_000_000).alias('doc_id'),
            F.expr('substring(text, 1, length(text) DIV 2)').alias('text'),
        )
    )
    # 5-gram winnowing + tight hot guard: common 3-grams recur across
    # hundreds of synthetic docs and blow the shared-fp join fan-out;
    # 5-grams are document-discriminative, the 100-TB-honest setting
    return containment_pairs(aug, k=5, w=4, threshold_ppm=600_000, max_df=200)


def q_corpus_health(spark, sf_dir):
    """One-row corpus health panel (operators/curation.py:corpus_health):
    doc/token totals, exact-dup rate in integer ppm, dominant language +
    share, mean quality (micro-quantized sum).  One constant-width
    aggregate + a language top-1 broadcast back."""
    from dgraphpandas_spark.operators.curation import corpus_health

    return corpus_health(_t(spark, sf_dir, 'documents'))


def q_events_sessionize(spark, sf_dir):
    """Batch sessionization (gap = 1800 s) of the event log, rolled up to
    per-session stats — the batch twin of stream_stateful_sessions.  One
    exchange on user_id; lag + running-sum share a single Window sort."""
    from dgraphpandas_spark.operators.sessions import session_stats

    e = _t(spark, sf_dir, 'events')
    return session_stats(e, key_col='user_id', ts_col='ts', gap=1800)


def q_dedup_simhash(spark, sf_dir):
    return DD.simhash(_t(spark, sf_dir, 'documents'), bits=16)


def q_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, 'documents')
    t = F.col('text')
    return d.select(
        'doc_id',
        TX.token_count(t).alias('n_tokens'),
        TX.bpe_token_estimate(t).alias('bpe_est'),
        F.round(TX.punct_ratio(t), 6).alias('punct_ratio'),
        F.round(TX.quality_score(t), 6).alias('quality'),
        TX.lang_id(t).alias('lang_pred'),
        TX.fingerprint(t).alias('fp'),
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    duplicate-token fraction, top-bigram fraction, duplicate-trigram
    fraction, and the keep verdict.  Doc-local array expressions — the
    top-bigram count uses the O(L log L) sorted-run formulation, not the
    O(L²) count-per-distinct, so 100k-token web documents stay cheap.
    Staged projections keep every intermediate array computed once per row
    (see functions/text.py:with_repetition_stats).  Zero exchanges."""
    d = _t(spark, sf_dir, 'documents')
    return TX.with_repetition_stats(d, 'text').select(
        'doc_id', 'dup_token_frac', 'top_bigram_frac', 'dup_trigram_frac', 'keep'
    )


def q_text_topk_per_lang(spark, sf_dir):
    """Top-3 documents by quality score per language — the grouped top-k
    idiom.  Ranking runs on the 6-dp ROUNDED score (so both engines rank
    the identical values; ties broken by doc_id).  Spark plans a partial
    WindowGroupLimit below the exchange: each map task forwards only its
    local top-3 per lang, so the shuffle carries O(groups·k), not all
    rows — the plan-evidence test pins it."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, 'documents').select(
        'doc_id', 'lang', F.round(TX.quality_score(F.col('text')), 6).alias('quality')
    )
    w = Window.partitionBy('lang').orderBy(F.col('quality').desc(), F.col('doc_id').asc())
    return (
        d.withColumn('rank', F.row_number().over(w))
        .filter(F.col('rank') <= 3)
        .select('lang', 'rank', 'doc_id', 'quality')
    )


def q_text_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints: distinct window-minima of
    k-gram hashes per document, exploded to (doc_id, fp) rows.  One fused
    projection + explode — no shuffle."""
    d = _t(spark, sf_dir, 'documents')
    return d.select(
        'doc_id',
        F.explode(TX.winnow_fingerprints(F.col('text'), k=3, w=4)).alias('fp'),
    )


def q_events_json_props(spark, sf_dir):
    """JSON column extraction (semi-structured source handling):
    get_json_object pushdown-friendly scalar extraction, grouped stats."""
    ev = _t(spark, sf_dir, 'events')
    k = F.get_json_object(F.col('props'), '$.k').cast('int')
    return (
        ev.select('event_type', k.alias('k'))
        .groupBy('event_type')
        .agg(
            F.count('*').alias('n'),
            F.sum('k').alias('sum_k'),
            F.min('k').alias('min_k'),
            F.max('k').alias('max_k'),
        )
    )


def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, 'embeddings')
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    return SS.brute_force_topk(emb, qvec, k=10)


def q_ann_lsh_histogram(spark, sf_dir):
    emb = _t(spark, sf_dir, 'embeddings')
    return SS.bucket_histogram(emb, n_planes=8, dim=64, seed=42)


def q_ann_ivf_histogram(spark, sf_dir):
    """IVF inverted-file directory: cell occupancy under the deterministic
    coarse quantizer (CENTROIDS shared verbatim with the oracle SQL)."""
    emb = _t(spark, sf_dir, 'embeddings')
    return (
        SS.ivf_assign(emb, n_cells=8, dim=64, seed=7)
        .groupBy('cell')
        .agg(F.count('*').alias('n_vectors'))
    )


def q_ann_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, 'embeddings')
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    return SS.ivf_topk(emb, qvec, k=10, n_cells=8, nprobe=2, seed=7)


def q_ann_ivf_trained_topk(spark, sf_dir):
    """IVF with a k-means-TRAINED coarse quantizer (2 Lloyd rounds,
    deterministic md5 init, centroids rounded per round) — the oracle
    replays the identical training as SQL CTE rounds."""
    emb = _t(spark, sf_dir, 'embeddings')
    cents = SS.train_ivf_centroids(emb, n_cells=8, iters=2)
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    return SS.ivf_topk(emb, qvec, k=10, n_cells=8, nprobe=2, centroids=cents)


def q_emb_covariance(spark, sf_dir):
    """One-pass distributed covariance of the first 8 embedding dims
    (operators/simsearch.py:covariance_matrix) — the moment aggregation
    PCA/whitening starts from.  Constant-width aggregate (36 product sums
    + 8 sums + count) with map-side partials over ONE exchange; no
    explode, no driver-side vectors."""
    return SS.covariance_matrix(_t(spark, sf_dir, 'embeddings'), k=8)


def q_emb_pq_codes(spark, sf_dir):
    """Product-quantization code table (simsearch.train_pq_codebooks +
    pq_encode): 4 subspaces × 8 codes, 1 deterministic Lloyd round per
    subspace; encode is one codegen projection (codebooks are literals).
    Tall (vec_id, sub, code) output; the oracle replays each subspace's
    training as suffix-uniquified k-means CTEs."""
    emb = _t(spark, sf_dir, 'embeddings')
    books = SS.train_pq_codebooks(emb, m_sub=4, n_codes=8, iters=1)
    enc = SS.pq_encode(emb, books)
    return enc.select(
        'vec_id',
        F.posexplode(F.array(*[F.col(f'code_{s}') for s in range(4)])).alias('sub', 'code'),
    )


def q_emb_pq_topk(spark, sf_dir):
    """ADC top-10 over PQ codes (simsearch.pq_topk): driver builds the
    4×8 query-vs-codebook lookup table once, every row is scored by 4
    array-literal lookups + 3 adds — no per-row dot products — into one
    TakeOrderedAndProject."""
    emb = _t(spark, sf_dir, 'embeddings')
    books = SS.train_pq_codebooks(emb, m_sub=4, n_codes=8, iters=1)
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    return SS.pq_topk(emb, qvec, books, k=10)


def q_emb_pq_ivf_topk(spark, sf_dir):
    """Composed IVF×PQ serving path — what a 100-TB ANN query actually
    runs: the seeded coarse quantizer prunes to nprobe=2 cells (with a
    materialized codes table written partitionBy(cell) this is partition
    pruning at the SCAN, per ivf_materialize), and only the surviving
    rows are ADC-scored via the PQ lookup table.  Candidate volume
    nprobe/n_cells × corpus; per-candidate cost m_sub lookups."""
    emb = _t(spark, sf_dir, 'embeddings')
    books = SS.train_pq_codebooks(emb, m_sub=4, n_codes=8, iters=1)
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    pruned = SS.ivf_probe(SS.ivf_assign(emb, centroids=CENTROIDS), qvec, CENTROIDS, 2)
    return SS.pq_topk(pruned, qvec, books, k=10)


def q_emb_pq_rerank_topk(spark, sf_dir):
    """Two-stage serving (simsearch.pq_rerank_topk): ADC shortlist of 50
    over the compressed codes, exact-cosine re-rank of only those rows
    (broadcast id join — the raw corpus never shuffles)."""
    emb = _t(spark, sf_dir, 'embeddings')
    books = SS.train_pq_codebooks(emb, m_sub=4, n_codes=8, iters=1)
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    return SS.pq_rerank_topk(emb, qvec, books, k=10, candidates=50)


def q_emb_pq_recall(spark, sf_dir):
    """Recall@10 of the three PQ serving paths vs exact brute force —
    quantifies what the 64× compression costs (pure ADC), what coarse-cell
    pruning adds on top (IVF×ADC), and how much the exact re-rank stage
    buys back (everything, when the shortlist ⊇ the true top-10).  The
    absolute numbers are LOW here by construction: the synthetic test
    embeddings are near-uniform random, and random data is incompressible
    — an m_sub=4/n_codes=8 quantizer (6 bits/vector) cannot preserve
    neighborhoods that carry ~full entropy.  On real clustered embeddings
    the same code with production settings (m_sub=8..16, n_codes=256,
    candidates ≈ 10-100×k) is the standard high-recall configuration; the
    exactness invariant (shortlist=corpus ⇒ identical to brute force) is
    pinned engine-side in tests/test_pq.py."""
    emb = _t(spark, sf_dir, 'embeddings')
    books = SS.train_pq_codebooks(emb, m_sub=4, n_codes=8, iters=1)
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    brute = SS.brute_force_topk(emb, qvec, k=10).select('vec_id')
    pruned = SS.ivf_probe(SS.ivf_assign(emb, centroids=CENTROIDS), qvec, CENTROIDS, 2)
    cands = {
        'pq_adc': SS.pq_topk(emb, qvec, books, k=10),
        'pq_ivf_adc': SS.pq_topk(pruned, qvec, books, k=10),
        'pq_rerank': SS.pq_rerank_topk(emb, qvec, books, k=10, candidates=50),
    }
    parts = [
        c.select('vec_id').join(brute, 'vec_id')
        .agg(F.round(F.count('*') / F.lit(10.0), 6).alias('recall_at_10'))
        .select(F.lit(m).alias('method'), 'recall_at_10')
        for m, c in cands.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_emb_pca_project(spark, sf_dir):
    """End-to-end distributed PCA (simsearch.pca_top_component +
    pca_project): one constant-width moment aggregate, driver-side power
    iteration on the 8×8 covariance (8 rounds, engine-replayable
    quantization), then a zero-exchange projection of every vector onto
    the top component."""
    emb = _t(spark, sf_dir, 'embeddings')
    comp = SS.pca_top_component(emb, k=8, iters=8)
    return SS.pca_project(emb, comp)


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means clusters (2 deterministic
    Lloyd rounds, shared with the trained-IVF quantizer) + within-cluster
    cosine near-dup collapse under the lowest-id-representative rule.
    Equi-join on cell — never all-pairs; n_cells is the 100-TB knob
    (operators/dedup.py:semantic_dedup).  Oracle replays training as SQL
    CTEs and mirrors the keep rule."""
    return DD.semantic_dedup(
        _t(spark, sf_dir, 'embeddings'), threshold=0.4, n_cells=8, iters=2
    )


def q_emb_neardup_pairs(spark, sf_dir):
    return DD.embedding_neardup_pairs(_t(spark, sf_dir, 'embeddings'), threshold=0.4)


def q_emb_neardup_lsh(spark, sf_dir):
    """Scale path: LSH-blocked near-dup pairs (equi-join on bucket, no
    nested-loop; recall<1 vs the exact variant by construction)."""
    return DD.embedding_neardup_pairs_lsh(
        _t(spark, sf_dir, 'embeddings'), threshold=0.4, n_planes=8, dim=64, seed=42
    )


def q_emb_neardup_lsh_multiprobe(spark, sf_dir):
    """Hamming-1 multi-probe variant: one join side explodes to its P+1
    bit-flip neighbor buckets (still an equi-join), catching pairs split by
    exactly one hyperplane; oracle mirrors the probe expansion with xor."""
    return DD.embedding_neardup_pairs_lsh(
        _t(spark, sf_dir, 'embeddings'), threshold=0.4, n_planes=8, dim=64,
        seed=42, multi_probe=True,
    )


def q_multimodal_meta(spark, sf_dir):
    """Opaque-binary plumbing: documents.text as a binary payload column,
    typed metadata extracted JVM-side (md5 digest, byte length)."""
    d = _t(spark, sf_dir, 'documents')
    payload = F.encode(F.col('text'), 'utf-8')
    return d.select(
        'doc_id',
        F.octet_length(payload).alias('n_bytes'),
        F.md5(payload).alias('digest'),
    )


def q_kg_salted_dedup(spark, sf_dir):
    """Triple dedup (``dedup_triples``, operators/canonicalize.py) over a
    deliberately skewed triple set: ~90% of event rows collapse onto one
    hot subject.  The plan is the single partial→final aggregate, which is
    skew-safe without a salt, since map-side partial combine absorbs the
    hot key's duplicates per task (physical shape pinned by
    tests/test_plan_evidence.py).  The name is kept from when the
    operator took a ``salt_buckets`` option, which Catalyst compiled to
    the same plan.  Oracle: plain SELECT DISTINCT of the same triple
    expressions."""
    from dgraphpandas_spark.operators.canonicalize import dedup_triples

    ev = _t(spark, sf_dir, 'events')
    triples = ev.select(
        F.when(F.col('event_id') % 10 < 9, F.lit('hot_conv'))
        .otherwise(F.concat(F.lit('u'), F.col('user_id'))).alias('subject'),
        F.col('event_type').alias('predicate'),
        F.concat(F.lit('"'), F.col('event_type'), F.lit('"')).alias('object'),
        F.lit('<xs:string>').alias('type'),
    )
    return dedup_triples(triples)


def q_stream_stateful_multibatch(spark, sf_dir):
    """Stateful sessions ACROSS micro-batches: the events feed is split
    into two parity files and ``maxFilesPerTrigger=1`` forces one batch per
    file, so per-conversation state must survive batch 1 to be correct
    after batch 2.  The update-mode memory sink keeps one row per
    (conversation, touching batch); aggregating with max/min equals the
    batch totals ONLY if state accumulated (otherwise max(n_turns) is the
    larger half, not the sum), and ``n_updates`` pins that both batches
    really touched the conversation."""
    import os

    from dgraphpandas_spark.streaming.stateful import conversation_sessions

    with _working_dir('stream_mb_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        ev = _t(spark, sf_dir, 'events')
        for par in (0, 1):
            ev.filter(F.col('event_id') % 2 == par).coalesce(1).write.mode('append').parquet(indir)
        schema = ('event_id bigint, ts timestamp, user_id bigint, '
                  'event_type string, value double, props string')
        stream = (
            spark.readStream.schema(schema)
            .option('maxFilesPerTrigger', 1)
            .parquet(indir)
            .select(
                F.concat(F.lit('u'), F.col('user_id')).alias('conv_id'),
                F.col('event_id').cast('int').alias('turn_idx'),
                F.col('event_type').alias('role'),
                F.col('props').alias('text'),
                F.when(F.col('event_type') != 'click', F.col('event_type')).alias('tool'),
                'ts',
            )
        )
        out = conversation_sessions(stream)
        name = 'stream_mb_' + os.path.basename(tmp).replace('stream_mb_', '')
        q = (
            out.writeStream.trigger(availableNow=True)
            .outputMode('update')
            .format('memory')
            .queryName(name)
            .option('checkpointLocation', os.path.join(tmp, 'ck'))
            .start()
        )
        q.awaitTermination()
        return spark.table(name).groupBy('conv_id').agg(
            F.max('n_turns').alias('n_turns'),
            F.max('n_tool_calls').alias('n_tool_calls'),
            F.min('first_ts').alias('first_ts'),
            F.max('last_ts').alias('last_ts'),
            F.max('max_turn_idx').alias('max_turn_idx'),
            F.count('*').alias('n_updates'),
        ).localCheckpoint(eager=True)


def q_kg_graph_completion(spark, sf_dir):
    """Graph completion (north_star canonicalization): conversation nodes
    from a distinct over conv_id (key-only pre-aggregated shuffle) and
    tool entity nodes from the distinct qualified tool xids —
    `operators/canonicalize.py:conversation_nodes/tool_nodes`."""
    from dgraphpandas_spark.operators.canonicalize import conversation_nodes, tool_nodes

    ev = _t(spark, sf_dir, 'events')
    turns = ev.select(F.concat(F.lit('u'), F.col('user_id')).alias('conv_id'))
    edges = ev.filter(F.col('event_type') != 'click').select(
        F.concat(F.lit('turn_u'), F.col('user_id'), F.lit('_'), F.col('event_id')).alias('subject'),
        F.lit('tool').alias('predicate'),
        F.concat(F.lit('tool_'), F.col('event_type')).alias('object'),
        F.lit(None).cast('string').alias('type'),
    )
    return conversation_nodes(turns).unionByName(tool_nodes(edges))


def _conv_tool_edges(spark, sf_dir):
    """Symmetrized conversation↔tool entity edges from the events table —
    the bipartite KG slice the analytics queries run over (same node
    naming as q_kg_graph_completion)."""
    ev = _t(spark, sf_dir, 'events')
    pairs = (
        ev.filter(F.col('event_type') != 'click')
        .select(
            F.concat(F.lit('u'), F.col('user_id')).alias('conv'),
            F.concat(F.lit('tool_'), F.col('event_type')).alias('tool'),
        )
        .distinct()
    )
    return pairs.select(F.col('conv').alias('src'), F.col('tool').alias('dst')).unionByName(
        pairs.select(F.col('tool').alias('src'), F.col('conv').alias('dst'))
    )


def q_kg_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the conversation↔tool entity graph
    (operators/graph.py) — per-round ranks rounded to 6 dp so the DuckDB
    oracle replays the identical 3 unrolled rounds.  Per iteration: one
    shuffle-join (contributions keyed on src) + one shuffle-agg (sum by
    dst), rank rows only."""
    from dgraphpandas_spark.operators.graph import pagerank

    return pagerank(_conv_tool_edges(spark, sf_dir), iters=3, damping=0.85)


def q_kg_lpa_communities(spark, sf_dir):
    """Deterministic label-propagation communities
    (operators/graph.py:label_propagation) over the conversation↔tool
    graph: 3 unrolled rounds, plurality-with-self-vote, min-label ties —
    all-integer/string recurrence, so the oracle replays it with no
    quantization at all."""
    from dgraphpandas_spark.operators.graph import label_propagation

    return label_propagation(_conv_tool_edges(spark, sf_dir), iters=3)


def q_kg_pagerank_weighted(spark, sf_dir):
    """Personalized weighted PageRank (operators/graph.py:
    pagerank_weighted) over the tool co-usage projection: rank mass
    splits across edges by co-occurrence weight, and the walk restarts
    proportionally to node strength (Σ incident weight — an
    integer-exact teleport vector).  Per-round 6-dp rounding lets the
    DuckDB oracle unroll the identical 3 rounds."""
    from dgraphpandas_spark.operators.graph import bipartite_project, pagerank_weighted

    proj = bipartite_project(_conv_tool_pairs(spark, sf_dir), src='conv', dst='tool')
    edges = proj.select(F.col('a').alias('src'), F.col('b').alias('dst'), 'weight').unionByName(
        proj.select(F.col('b').alias('src'), F.col('a').alias('dst'), 'weight')
    )
    tp = edges.groupBy(F.col('src').alias('id')).agg(F.sum('weight').alias('t'))
    return pagerank_weighted(edges, teleport=tp, iters=3, damping=0.85)


def q_kg_degree_stats(spark, sf_dir):
    """Per-entity in/out degree over the same graph — full-outer merge of
    two key-only count aggregates."""
    from dgraphpandas_spark.operators.graph import degree_stats

    return degree_stats(_conv_tool_edges(spark, sf_dir))


def q_kg_orphan_edges(spark, sf_dir):
    """Referential-integrity audit (operators/validate.py): per-predicate
    dangling-reference counts of the orders→customer edge triples against
    a node universe restricted to the BUILDING market segment (so orphans
    exist by construction).  Edges are collapsed to distinct (predicate,
    object) groups with a map-side partial BEFORE the anti-join — the
    audit never shuffles raw edge rows."""
    from dgraphpandas_spark.operators.validate import orphan_edges

    _, edges = horizontal_transform(
        _t(spark, sf_dir, 'orders'), ORDERS_OVERRIDE_CONFIG, 'order'
    )
    nodes = (
        _t(spark, sf_dir, 'customer')
        .filter(F.col('c_mktsegment') == 'BUILDING')
        .select(F.concat(F.lit('customer_'), F.col('c_custkey')).alias('subject'))
    )
    return orphan_edges(edges, nodes)


def q_kg_khop(spark, sf_dir):
    """Bounded k-hop neighborhood expansion (operators/graph.py:k_hop —
    the batch twin of Dgraph's recurse block): BFS frontier sizes by
    minimum hop distance from the tool_error entity over the
    conversation↔tool graph.  Per hop: frontier equi-join (AQE broadcasts
    the small frontier) + visited anti-join, node-id strings only; the
    DuckDB oracle is a bounded recursive CTE with a min-hop rollup."""
    from dgraphpandas_spark.operators.graph import k_hop

    seeds = spark.createDataFrame([('tool_error',)], 'id string')
    reached = k_hop(_conv_tool_edges(spark, sf_dir), seeds, k=3)
    return reached.groupBy('hop').agg(F.count('*').alias('n_nodes'))


def _conv_tool_pairs(spark, sf_dir):
    """Directed conversation→tool bipartite slice (the un-symmetrized half
    of _conv_tool_edges)."""
    ev = _t(spark, sf_dir, 'events')
    return (
        ev.filter(F.col('event_type') != 'click')
        .select(
            F.concat(F.lit('u'), F.col('user_id')).alias('conv'),
            F.concat(F.lit('tool_'), F.col('event_type')).alias('tool'),
        )
        .distinct()
    )


def q_kg_tool_cooccurrence(spark, sf_dir):
    """Bipartite projection (operators/graph.py:bipartite_project): tool
    co-usage graph — tools connected iff they share a conversation,
    weighted by distinct shared conversations.  Hot-src degree cap ON by
    default (a no-op at this data's max degree of 4, so the oracle needn't
    mirror it); the projection is an equi-join on conv, never all-pairs."""
    from dgraphpandas_spark.operators.graph import bipartite_project

    return bipartite_project(_conv_tool_pairs(spark, sf_dir), src='conv', dst='tool')


def q_kg_triangles(spark, sf_dir):
    """Triangle count of the tool co-usage projection via the directed
    low→high orientation (operators/graph.py:triangle_count) — each
    triangle counted once, hub fan-out capped by higher-id neighbors."""
    from dgraphpandas_spark.operators.graph import bipartite_project, triangle_count

    proj = bipartite_project(_conv_tool_pairs(spark, sf_dir), src='conv', dst='tool')
    return triangle_count(proj.select('a', 'b'))


def q_kg_negative_samples(spark, sf_dir):
    """Corrupt-tail negative sampling for KG-embedding training
    (operators/graph.py:negative_sample): each order→customer edge emits
    2 negatives with a deterministic md5-drawn tail ≠ the true tail.
    Node indexing is the two-pass parallel dense-id assignment
    (bucket hash → per-bucket counts → driver prefix offsets →
    partitioned row_number — no global sort); the DuckDB oracle replays
    the identical buckets, offsets, draws, and the +1 collision probe."""
    from dgraphpandas_spark.operators.graph import negative_sample

    _, edges = horizontal_transform(
        _t(spark, sf_dir, 'orders'), ORDERS_OVERRIDE_CONFIG, 'order'
    )
    e = edges.select('subject', 'predicate', 'object')
    nodes = e.select(F.col('object').alias('id'))
    return negative_sample(e, nodes, k=2, seed=42)


def q_kg_incremental_merge(spark, sf_dir):
    """Incremental KG merge (Dgraph upsert semantics,
    operators/canonicalize.py:merge_triples): a delta batch REPLACES
    single-valued predicates per (subject, predicate) and edge triples
    accumulate.  Default anti-join strategy: delta keys are the build
    side, so the store is never value-aggregated (and with a small delta
    AQE broadcasts the key set — the store never shuffles).  Existing
    store: etype/user intrinsics + tool edges per event-turn; delta:
    corrected etype for event_id%3==0, extra tool edge for event_id%5==0."""
    from dgraphpandas_spark.operators.canonicalize import merge_triples

    ev = _t(spark, sf_dir, 'events')
    subj = F.concat(F.lit('turn_'), F.col('event_id'))
    xs = F.lit('<xs:string>')
    existing = (
        ev.select(subj.alias('subject'), F.lit('etype').alias('predicate'),
                  F.col('event_type').alias('object'), xs.alias('type'))
        .unionByName(
            ev.select(subj.alias('subject'), F.lit('user').alias('predicate'),
                      F.col('user_id').cast('string').alias('object'), xs.alias('type')))
        .unionByName(
            ev.filter(F.col('event_type') != 'click')
            .select(subj.alias('subject'), F.lit('tool').alias('predicate'),
                    F.concat(F.lit('tool_'), F.col('event_type')).alias('object'),
                    F.lit(None).cast('string').alias('type')))
    )
    delta = (
        ev.filter(F.col('event_id') % 3 == 0)
        .select(subj.alias('subject'), F.lit('etype').alias('predicate'),
                F.concat(F.lit('corrected_'), F.col('event_type')).alias('object'),
                xs.alias('type'))
        .unionByName(
            ev.filter(F.col('event_id') % 5 == 0)
            .select(subj.alias('subject'), F.lit('tool').alias('predicate'),
                    F.lit('tool_extra').alias('object'),
                    F.lit(None).cast('string').alias('type')))
    )
    return merge_triples(existing, delta)


def q_stream_kg_triples(spark, sf_dir):
    """The north-star streaming ELT path end-to-end: transcript-shaped
    turns (mapped from events) streamed in TWO forced micro-batches
    through ``stream_triples`` — the same pure-expression melt+refine
    chain lifted to a stream, ``assume_unique_subjects`` forced so
    dgraph.type rows emit statelessly — drained AvailableNow into a
    memory sink.  A stateless streaming transform is batch-equivalent by
    contract; the oracle is the batch SQL over the same rows."""
    import os

    from dgraphpandas_spark.streaming.stream import stream_transcripts, stream_triples

    with _working_dir('stream_kg_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        ev = _t(spark, sf_dir, 'events')
        turns = ev.select(
            F.concat(F.lit('u'), F.col('user_id')).alias('conv_id'),
            F.col('event_id').cast('int').alias('turn_idx'),
            F.col('event_type').alias('role'),
            F.col('props').alias('text'),
            F.when(F.col('event_type') != 'click', F.col('event_type')).alias('tool'),
            'ts',
        )
        for par in (0, 1):
            turns.filter(F.col('turn_idx') % 2 == par).coalesce(1).write.mode('append').parquet(indir)
        stream = stream_transcripts(spark, indir, max_files_per_trigger=1)
        config = {
            'transform': 'horizontal',
            'files': {
                'turn': {
                    'subject_fields': ['conv_id', 'turn_idx'],
                    'edge_fields': ['tool'],
                    'type_overrides': {'ts': 'datetime64[ns]'},
                    'date_fields': {'ts': {}},
                }
            },
        }
        out = stream_triples(stream, config, 'turn').withColumn(
            'is_edge', F.col('is_edge').cast('int')
        )
        name = 'stream_kg_' + os.path.basename(tmp).replace('stream_kg_', '')
        q = (
            out.writeStream.trigger(availableNow=True)
            .outputMode('append')
            .format('memory')
            .queryName(name)
            .option('checkpointLocation', os.path.join(tmp, 'ck'))
            .start()
        )
        q.awaitTermination()
        return spark.table(name).localCheckpoint(eager=True)


def q_stream_kg_materialize(spark, sf_dir):
    """The COMPLETE streaming-ELT north-star path, oracle-checked through
    storage: transcript-shaped turns streamed in two forced micro-batches
    → melt+refine (stream_triples) → foreachBatch append-mode
    materialization (streaming/stream.py:stream_materialize — one wave
    per batch, atomic wave markers, replay-idempotent dynamic overwrite)
    → read back ONLY marker-committed waves.  The rows that come off disk
    must equal the batch transform of the same input (the oracle is the
    stream_kg_triples SQL), proving the storage path neither lost,
    duplicated, nor altered a triple across batch boundaries."""
    from dgraphpandas_spark.plans.lineage import appended_waves, read_appended
    from dgraphpandas_spark.streaming.stream import stream_materialize, stream_transcripts, stream_triples

    with _working_dir('stream_mat_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        ev = _t(spark, sf_dir, 'events')
        turns = ev.select(
            F.concat(F.lit('u'), F.col('user_id')).alias('conv_id'),
            F.col('event_id').cast('int').alias('turn_idx'),
            F.col('event_type').alias('role'),
            F.col('props').alias('text'),
            F.when(F.col('event_type') != 'click', F.col('event_type')).alias('tool'),
            'ts',
        )
        for par in (0, 1):
            turns.filter(F.col('turn_idx') % 2 == par).coalesce(1).write.mode('append').parquet(indir)
        stream = stream_transcripts(spark, indir, max_files_per_trigger=1)
        config = {
            'transform': 'horizontal',
            'files': {
                'turn': {
                    'subject_fields': ['conv_id', 'turn_idx'],
                    'edge_fields': ['tool'],
                    'type_overrides': {'ts': 'datetime64[ns]'},
                    'date_fields': {'ts': {}},
                }
            },
        }
        out = stream_triples(stream, config, 'turn').withColumn(
            'is_edge', F.col('is_edge').cast('int')
        )
        store = os.path.join(tmp, 'store')
        q = stream_materialize(out, store, os.path.join(tmp, 'ck'), n_buckets=8)
        q.awaitTermination()
        assert len(appended_waves(store)) >= 2  # two micro-batches → two waves
        return read_appended(spark, store).select(
            'subject', 'predicate', 'object', 'type', 'is_edge'
        ).localCheckpoint(eager=True)


def q_stream_replay_dedup(spark, sf_dir):
    """Bounded-state exactly-once ingestion under source replays
    (``dropDuplicatesWithinWatermark``): batch 1 delivers every turn, batch
    2 replays a third of them verbatim (``maxFilesPerTrigger=1`` forces the
    two micro-batches).  The lateness horizon covers the whole ts span, so
    every replayed key still has live dedup state when its duplicate
    arrives — the sink must hold exactly the distinct turn set; without
    cross-batch state the replays would re-emit and the row count would
    exceed it."""
    import os

    from dgraphpandas_spark.streaming.stream import dedup_replayed_turns

    with _working_dir('stream_rd_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        ev = _t(spark, sf_dir, 'events')
        turns = ev.select(
            F.concat(F.lit('u'), F.col('user_id')).alias('conv_id'),
            F.col('event_id').cast('int').alias('turn_idx'),
            'ts',
        )
        turns.coalesce(1).write.mode('append').parquet(indir)
        turns.filter(F.col('turn_idx') % 3 == 0).coalesce(1).write.mode('append').parquet(indir)
        stream = (
            spark.readStream.schema('conv_id string, turn_idx int, ts timestamp')
            .option('maxFilesPerTrigger', 1)
            .parquet(indir)
        )
        out = dedup_replayed_turns(stream, lateness='3650 days').select(
            'conv_id', 'turn_idx', F.unix_micros('ts').alias('ts_us')
        )
        name = 'stream_rd_' + os.path.basename(tmp).replace('stream_rd_', '')
        q = (
            out.writeStream.trigger(availableNow=True)
            .outputMode('append')
            .format('memory')
            .queryName(name)
            .option('checkpointLocation', os.path.join(tmp, 'ck'))
            .start()
        )
        q.awaitTermination()
        return spark.table(name).localCheckpoint(eager=True)


def q_ann_ivf_materialized_topk(spark, sf_dir):
    """The on-disk inverted file end-to-end: materialize (write partitioned
    by cell), then query via partition-pruned scan — must return exactly
    the inline ivf_topk result (the oracle is the same SQL)."""
    import os

    emb = _t(spark, sf_dir, 'embeddings')
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    with _working_dir('ivf_mat_') as tmp:
        path = os.path.join(tmp, 'ivf')
        cents = SS.ivf_materialize(emb, path, n_cells=8, dim=64, seed=7)
        return SS.ivf_query_materialized(spark, path, cents, qvec, k=10, nprobe=2).localCheckpoint(eager=True)


def q_ann_recall(spark, sf_dir):
    """Recall@10 of every approximate index vs the exact brute-force top-10
    for the same query vector — the accuracy half of the ANN
    speed/accuracy trade, deterministic (both engines compute the same
    candidate sets and the same intersection)."""
    emb = _t(spark, sf_dir, 'embeddings')
    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    brute = SS.brute_force_topk(emb, qvec, k=10).select('vec_id')
    cands = {
        'lsh_multiprobe': SS.lsh_topk(
            emb, qvec, k=10, n_planes=8, seed=42, multi_probe=True
        ),
        'ivf_seeded': SS.ivf_topk(emb, qvec, k=10, n_cells=8, nprobe=2, seed=7),
        'ivf_trained': SS.ivf_topk(
            emb, qvec, k=10, n_cells=8, nprobe=2,
            centroids=SS.train_ivf_centroids(emb, n_cells=8, iters=2),
        ),
    }
    parts = [
        c.select('vec_id').join(brute, 'vec_id')
        .agg(F.round(F.count('*') / F.lit(10.0), 6).alias('recall_at_10'))
        .select(F.lit(m).alias('method'), 'recall_at_10')
        for m, c in cands.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_multimodal_wav_decode(spark, sf_dir):
    """REAL media decode, oracle-checked: the WAV/PPM payloads are decoded
    by the registered stdlib/numpy codecs and the emitted integers
    (header framerate / frame count / dims, exact pixel byte sum) are
    re-derived by the DuckDB oracle in closed form from the deterministic
    fixture parameters (sha256-seeded) — values only a working decoder can
    produce from the bytes."""
    from dgraphpandas_spark.operators import multimodal as MM

    media = MM.synthetic_real_media(spark, n_rows=60, seed=42)
    stats = MM.decode_media_stats(media)
    return stats.select(
        'media_id', 'kind', 'n_bytes', 'framerate', 'n_samples',
        F.expr('CAST(n_samples AS BIGINT) * 1000 DIV framerate').alias('duration_ms'),
        'width', 'height', 'pixel_sum',
    )


# ----------------------------------------------------------- temporal ops


def _us(col):
    """Exact epoch-microseconds of a (possibly NTZ) timestamp column — the
    session timezone is pinned UTC (session.py:36), so the NTZ→TZ cast is
    the identity and matches DuckDB's epoch_us()."""
    return F.unix_micros(F.col(col).cast('timestamp') if isinstance(col, str) else col.cast('timestamp'))


def q_events_asof_join(spark, sf_dir):
    """Backward as-of (point-in-time) join — Spark has no ASOF JOIN, DuckDB
    does (the oracle uses it verbatim): each purchase event is joined to
    the latest click of the same user at-or-before its timestamp.
    Implementation (operators/temporal.py:asof_join) is the scalable
    union-tag + single-sort + last(ignorenulls) formulation: ONE exchange
    on user_id, no range-join candidate explosion.  Right side is deduped
    to one row per (user, ts) (last writer by event_id) so both engines
    are deterministic under timestamp ties."""
    from pyspark.sql import Window

    from dgraphpandas_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, 'events')
    purchases = ev.filter(F.col('event_type') == 'purchase').select('user_id', 'event_id', 'ts')
    w = Window.partitionBy('user_id', 'ts').orderBy(F.col('event_id').desc())
    clicks = (
        ev.filter(F.col('event_type') == 'click')
        .select('user_id', 'ts', 'event_id', 'value')
        .withColumn('__rn', F.row_number().over(w))
        .filter(F.col('__rn') == 1)
        .drop('__rn')
    )
    j = asof_join(purchases, clicks, on='user_id', left_ts='ts', right_cols=['event_id', 'value'])
    return j.select(
        'user_id',
        'event_id',
        _us('ts').alias('ts_us'),
        F.col('event_id_right').alias('click_event_id'),
        F.round(F.col('value_right'), 6).alias('click_value'),
        (_us('ts') - _us('ts_right')).alias('gap_us'),
    )


def q_events_rolling(spark, sf_dir):
    """Event-time rolling 1-hour aggregates per user (RANGE frame over
    exact epoch-microsecond integers — both engines evaluate the identical
    inclusive integer range, no float boundary drift).  The value sum is
    carried as round(value*1e6) BIGINTs so windowed double-summation order
    (Spark sliding frame vs DuckDB segment tree) cannot flip a digit.
    ONE exchange on user_id; single sort shared by both frames."""
    from dgraphpandas_spark.operators.temporal import rolling_agg

    ev = _t(spark, sf_dir, 'events')
    micro = F.round(F.col('value') * 1e6, 0).cast('long')
    rolled = rolling_agg(
        ev.withColumn('v_micro', micro),
        key_col='user_id',
        ts_col='ts',
        window_s=3600,
        aggs={'n_1h': F.count(F.lit(1)), 'v_sum_micro_1h': F.sum('v_micro')},
    )
    return rolled.select(
        'user_id', 'event_id', _us('ts').alias('ts_us'),
        'n_1h', 'v_sum_micro_1h',
    )


def q_events_ewma(spark, sf_dir):
    """Per-user EWMA of event values (operators/temporal.py:ewma) — the
    grouped-Arrow (`applyInPandas`) surface exercised on a genuinely
    recursive aggregate no window frame can express.  State quantized to
    1e-6 per fold step (floor-half-up, exact-binary α=1/8), so the DuckDB
    oracle's list_reduce with the identical lambda reproduces the exact
    double."""
    from dgraphpandas_spark.operators.temporal import ewma

    ev = _t(spark, sf_dir, 'events')
    return ewma(ev, key_col='user_id', ts_col='ts', value_col='value', tiebreak_col='event_id')


def q_kg_tool_transitions(spark, sf_dir):
    """Tool-invocation Markov transitions: for each conversation's ordered
    tool sequence, count (from_tool → to_tool) bigrams — the transition
    matrix an agent-behavior analysis starts from.  ONE exchange on the
    conversation key; lead() shares the sort; rollup on the (src, dst)
    pair has map-side partials."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, 'events').filter(F.col('event_type') != 'click')
    w = Window.partitionBy('user_id').orderBy('ts', 'event_id')
    seq = ev.select(
        'user_id',
        F.concat(F.lit('tool_'), F.col('event_type')).alias('src'),
        'ts', 'event_id',
    ).withColumn('dst', F.lead('src').over(w))
    return (
        seq.filter(F.col('dst').isNotNull())
        .groupBy('src', 'dst')
        .agg(F.count('*').alias('n'))
    )


def q_events_funnel(spark, sf_dir):
    """First-touch ordered funnel (operators/funnels.py): users completing
    signup → click → purchase strictly in order.  ONE key aggregate of
    per-step conditional min(ts) (map-side partial) + a constant-width
    rollup — no self-joins, no window sorts; one pass over the log at any
    scale."""
    from dgraphpandas_spark.operators.funnels import funnel

    ev = _t(spark, sf_dir, 'events')
    return funnel(ev, steps=['signup', 'click', 'purchase'])


def q_events_retention(spark, sf_dir):
    """Weekly cohort retention (operators/funnels.py): users cohorted by
    the week of their first event; each (cohort, offset) cell counts
    distinct users active that many weeks later.  Offsets are exact
    (week-truncated timestamps differ by whole weeks, so the day/7
    division is integral in both engines)."""
    from dgraphpandas_spark.operators.funnels import retention

    ev = _t(spark, sf_dir, 'events')
    r = retention(ev, period='week')
    return r.select(
        _us('cohort_start').alias('cohort_start_us'), 'offset', 'n_active'
    )


def q_events_cardinality(spark, sf_dir):
    """Distinct-user cardinality per event type: the oracle-checked exact
    count (two-phase expanded distinct) next to the 100 TB path —
    `approx_count_distinct` (HyperLogLog++, fixed ~few-KB mergeable
    sketch per group, ONE exchange, no key-space shuffle).  The approx
    estimate is NOT oracle-compared (DuckDB's approx_distinct is a
    different HLL implementation); its ≤5% relative error vs exact is
    pinned in pytest instead, and the exact column proves the rollup."""
    ev = _t(spark, sf_dir, 'events')
    return ev.groupBy('event_type').agg(
        F.count('*').alias('n'),
        F.count_distinct('user_id').alias('n_users'),
    )


def q_events_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per event_type (SQL `percentile` —
    both engines use the linear-interpolation definition; DuckDB's is
    `quantile_cont`).  At 100 TB the scale path is `approx_percentile`
    (KLL/GK sketch, map-side mergeable — rel-error pinned by pytest);
    the exact variant here is the oracle-checkable ground truth."""
    ev = _t(spark, sf_dir, 'events')
    pct = F.expr('percentile(value, array(0.25D, 0.5D, 0.75D))')
    return (
        ev.groupBy('event_type')
        .agg(F.count('*').alias('n'), pct.alias('p'))
        .select(
            'event_type', 'n',
            F.round(F.col('p')[0], 6).alias('p25'),
            F.round(F.col('p')[1], 6).alias('p50'),
            F.round(F.col('p')[2], 6).alias('p75'),
        )
    )


def q_kg_triple_history(spark, sf_dir):
    """SCD2 triple versioning: collapse each customer's order-status
    change log into validity intervals — "(customer, last_orderstatus)
    held O from t1 until t2" (valid_to NULL = current).  The temporal
    complement of kg_incremental_merge's latest-state upserts (reference
    dgraphpandas always emits latest state, rdf.py:69-84).  One exchange
    on the key; dedup/lag/lead share the sort (operators/temporal.py)."""
    from dgraphpandas_spark.operators.temporal import scd2_history

    orders = _t(spark, sf_dir, 'orders')
    hist = scd2_history(
        orders,
        key_cols=['o_custkey'],
        ts_col='o_orderdate',
        value_col='o_orderstatus',
        tiebreak_cols=['o_orderkey'],
    )
    return hist.select(
        F.concat(F.lit('customer_'), F.col('o_custkey')).alias('subject'),
        F.lit('last_orderstatus').alias('predicate'),
        F.col('o_orderstatus').alias('object'),
        _us('valid_from').alias('valid_from_us'),
        _us('valid_to').alias('valid_to_us'),
    )


def q_corpus_tfidf_topk(spark, sf_dir):
    """Per-document top-5 salient terms by integer rarity-weighted tf
    (operators/curation.py:tfidf_topk): score_ppm = tf*1e6 DIV doc_freq —
    exact integer math on both engines (no float ln), term-string
    tiebreak gives a total order.  One (id,term) tf exchange, broadcast
    doc_freq join-back, one row_number window per doc."""
    from dgraphpandas_spark.operators.curation import tfidf_topk

    d = _t(spark, sf_dir, 'documents')
    return tfidf_topk(d, k=5)


def q_corpus_shard(spark, sf_dir):
    """Deterministic data-loader sharding (operators/curation.py:
    shard_corpus): md5-derived shard in [0,8) + dense reproducible
    within-shard shuffle position — epoch reshuffle = new salt.  Shard
    label is a zero-shuffle projection; the dense position is one
    exchange on shard + one row_number window."""
    from dgraphpandas_spark.operators.curation import shard_corpus

    d = _t(spark, sf_dir, 'documents')
    return shard_corpus(d, n_shards=8, salt='ep1')


def q_corpus_collocations(spark, sf_dir):
    """Bigram collocations by integer-exact lift (operators/curation.py:
    collocations): lift_ppm = pair_count*n_tokens*1e6 DIV (c1*c2) —
    exp(PMI) in ppm, no float ln.  Bigrams are a pure array transform
    (no posexplode self-join); unigram frame broadcast back; top-n is a
    TakeOrdered with total order (lift desc, pair_count desc, w1, w2)."""
    from dgraphpandas_spark.operators.curation import collocations

    d = _t(spark, sf_dir, 'documents')
    return collocations(d, min_count=2, top_n=100)


def q_emb_knn_classify(spark, sf_dir):
    """kNN label propagation (operators/simsearch.py:knn_classify):
    every 25th vector is the 'unlabeled' query set, classified by
    majority vote of its 5 most-cosine-similar labeled neighbors.
    Queries broadcast against the reference side (the 100-TB side never
    moves); vote fully deterministic (cos desc/rid asc, votes desc/label
    asc).  Output includes the held-out true label and a correctness
    flag — the weak-supervision accuracy audit."""
    from dgraphpandas_spark.operators.simsearch import knn_classify

    e = _t(spark, sf_dir, 'embeddings')
    q = e.filter('vec_id % 25 = 0')
    r = e.filter('vec_id % 25 <> 0')
    pred = knn_classify(q, r, k=5)
    truth = q.select(F.col('vec_id').alias('id'), F.col('label').alias('true_label'))
    return pred.join(F.broadcast(truth), 'id').select(
        'id', 'pred_label', 'votes', 'true_label',
        (F.col('pred_label') == F.col('true_label')).alias('correct'),
    )


def q_dedup_incremental(spark, sf_dir):
    """Ingestion-batch admission control (operators/dedup.py:
    incremental_dedup): a synthetic batch (exact copies of every 5th doc
    + tail-extended copies of every doc ≡3 mod 7) is checked against the
    corpus LSH index — candidates from one bucket equi-join, exact
    Jaccard verify only on the candidate list, one verdict row per new
    doc.  Cost is O(batch), independent of corpus size — the steady-state
    100-TB ingestion shape (corpus buckets precomputable/materializable
    via minhash_buckets)."""
    from dgraphpandas_spark.operators.dedup import incremental_dedup

    d = _t(spark, sf_dir, 'documents').select('doc_id', 'text')
    new = (
        d.filter('doc_id % 5 = 0')
        .select((F.col('doc_id') + 1_000_000).alias('doc_id'), 'text')
        .unionByName(
            d.filter('doc_id % 7 = 3').select(
                (F.col('doc_id') + 2_000_000).alias('doc_id'),
                F.concat(F.col('text'), F.lit(' qq ww ee rr tt yy uu ii')).alias('text'),
            )
        )
    )
    return incremental_dedup(new, d, n=3, bands=4, threshold=0.5)


def q_stream_ingest_dedup(spark, sf_dir):
    """Admission-control dedup AT INGEST (streaming/stream.py:
    stream_ingest_dedup): the SAME synthetic batch as dedup_incremental
    streams in TWO forced micro-batches (parity parquet files,
    maxFilesPerTrigger=1) and each trigger is judged against the static
    corpus LSH index via foreachBatch.  Verdicts are micro-batch-split
    invariant (each doc is judged only against the static corpus), so the
    sink's verdict columns are checked by the dedup_incremental ORACLE
    VERBATIM — streaming ≡ batch through storage.  The working directory
    (input files, checkpoint, sink) is removed once the sink is read back
    into a local checkpoint."""
    from dgraphpandas_spark.streaming.stream import stream_ingest_dedup

    d = _t(spark, sf_dir, 'documents').select('doc_id', 'text')
    new = (
        d.filter('doc_id % 5 = 0')
        .select((F.col('doc_id') + 1_000_000).alias('doc_id'), 'text')
        .unionByName(
            d.filter('doc_id % 7 = 3').select(
                (F.col('doc_id') + 2_000_000).alias('doc_id'),
                F.concat(F.col('text'), F.lit(' qq ww ee rr tt yy uu ii')).alias('text'),
            )
        )
    )
    with _working_dir('stream_ingest_') as tmp:
        indir = os.path.join(tmp, 'in')
        os.makedirs(indir)
        for par in (0, 1):
            new.filter(F.col('doc_id') % 2 == par).coalesce(1).write.mode('append').parquet(indir)
        stream = (
            spark.readStream.schema(new.schema)
            .option('maxFilesPerTrigger', 1)
            .parquet(indir)
        )
        out = os.path.join(tmp, 'verdicts')
        q = stream_ingest_dedup(
            stream, d, out, os.path.join(tmp, 'ck'), n=3, bands=4, threshold=0.5
        )
        q.awaitTermination()
        return (
            spark.read.parquet(out).select('id', 'dup_of', 'jaccard', 'keep')
            .localCheckpoint(eager=True)
        )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG triple extraction (intrinsic + edges) on sf0.001."""
    sf_dir = '/root/testdata/sf0.001'
    intrinsic, edges = horizontal_transform(
        _t(spark, sf_dir, 'customer'), CUSTOMER_CONFIG, 'customer'
    )
    return intrinsic.unionByName(edges)


def _last_checked() -> dict[str, int]:
    """Query name -> the highest round N whose ``CORRECTNESS_rN.json``
    beside this module lists it."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, 'CORRECTNESS_r*.json')):
        m = re.fullmatch(r'CORRECTNESS_r(\d+)\.json', os.path.basename(path))
        if m:
            with open(path) as f:
                for name in json.load(f):
                    rounds[name] = max(rounds.get(name, 0), int(m.group(1)))
    return rounds


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level ``q_<name>`` function as ``name -> fn``, least
    recently driver-checked first (rank 0 when no record lists it), ties
    in declaration order.  The driver checks entries in this order with a
    ~50-entry cap, so each round checks what went longest unchecked."""
    fns = {n[2:]: fn for n, fn in globals().items() if n.startswith('q_') and callable(fn)}
    rounds = _last_checked()
    return {n: fns[n] for n in sorted(fns, key=lambda n: rounds.get(n, 0))}


# ------------------------------------------------------------- oracle SQL

_SCRUB_OBJ = r"""regexp_replace({col}, '"|\n|\r\n', '', 'g')"""
_ISO = (
    "CASE WHEN strftime({col}, '%f') = '000000' "
    "THEN strftime({col}, '%Y-%m-%dT%H:%M:%S') "
    "ELSE strftime({col}, '%Y-%m-%dT%H:%M:%S.%f') END"
)
_NORM = r"regexp_replace(lower(trim({col})), '\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


def _docs_dups_cte() -> str:
    return (
        'docs AS (SELECT doc_id, text FROM documents '
        'UNION ALL SELECT doc_id + 1000000, text FROM documents)'
    )


def _shingles_cte(n: int = 3) -> str:
    toks = _TOKS.format(col='text')
    return (
        f'toks AS (SELECT doc_id AS id, {toks} AS t FROM docs), '
        f'sh AS (SELECT DISTINCT id, s FROM toks, '
        f'unnest(CASE WHEN len(t) < {n} THEN [] '
        f'ELSE list_transform(range(1, len(t) - {n - 2}), '
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' ')) END) AS u(s))"
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f'list_reduce(list_transform(list_zip({a}, {b}), '
        f'z -> z[1]::double * z[2]::double), (x, y) -> x + y)'
    )


def _cosine_sql(a: str, b: str) -> str:
    return f'({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))'


def _unit_sql(v: str) -> str:
    """L2-normalized copy of a double list — mirrors functions.similarity
    .unit bit-exactly (same left-to-right fold, IEEE sqrt/divide), so
    prenormalized Spark operators (knn_graph, knn_classify) stay
    hash-comparable: cosine(a, b) == dot(unit(a), unit(b)) on BOTH
    engines because both compute the identical float ops."""
    return f'list_transform({v}, x -> x / sqrt({_dot_sql(v, v)}))'


def _lang_sql() -> str:
    toks = _TOKS.format(col='text')
    hits = {}
    for lang, markers in sorted(TX.LANG_MARKERS.items()):
        lst = '[' + ', '.join(f"'{m}'" for m in markers) + ']'
        hits[lang] = f'len(list_filter({toks}, t -> list_contains({lst}, t)))'
    h = hits
    return (
        f"CASE WHEN greatest({h['de']}, {h['en']}, {h['es']}, {h['fr']}) = 0 THEN 'und' "
        f"WHEN {h['de']} >= greatest({h['en']}, {h['es']}, {h['fr']}) THEN 'de' "
        f"WHEN {h['en']} >= greatest({h['es']}, {h['fr']}) THEN 'en' "
        f"WHEN {h['es']} >= {h['fr']} THEN 'es' ELSE 'fr' END"
    )


def _quality_sql() -> str:
    """Mirrors functions.text.quality_score (same formula as the
    text_stats oracle, factored for reuse over any text relation)."""
    toks = _TOKS.format(col='text')
    punct = "(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))"
    sw = '[' + ', '.join(f"'{w}'" for w in TX.STOPWORDS) + ']'
    sw_ratio = f'(len(list_filter({toks}, t -> list_contains({sw}, t))) / len({toks})::double)'
    return (
        f"round(0.5 * least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0 "
        f"ELSE len({toks}) END) / 100.0) "
        f"+ 0.3 * (1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE {punct} / length(text)::double END)) "
        f"+ 0.2 * (CASE WHEN len({toks}) = 0 THEN 0.0 ELSE {sw_ratio} END), 6)"
    )


def _minhash_cand_ctes(
    bands: int = 4, n: int = 3, max_bucket: int = 10_000, docs_cte: str = None
) -> str:
    """CTE chain ending in ``cand(id_a, id_b)`` — numeric 60-bit signature
    prefix + hot-bucket cap, mirrors operators.dedup.minhash_lsh_candidates.
    ``docs_cte`` overrides the base ``docs(doc_id, text)`` relation."""
    sigs = ', '.join(
        f"min(('0x' || substr(md5(s || '#{j}'), 1, 15))::bigint) AS sig_{j}"
        for j in range(bands)
    )
    buckets = ' UNION ALL '.join(
        f"SELECT id, '{j}|' || sig_{j} AS bucket FROM sigs" for j in range(bands)
    )
    return (
        f'{docs_cte or _docs_dups_cte()}, {_shingles_cte(n)}, '
        f'sigs AS (SELECT id, {sigs} FROM sh GROUP BY id), '
        f'buckets AS ({buckets}), '
        f'bsz AS (SELECT bucket, count(*) AS c FROM buckets GROUP BY 1), '
        f'okb AS (SELECT bucket FROM bsz WHERE c <= {max_bucket}), '
        f'cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b '
        f'FROM buckets a JOIN buckets b USING (bucket) JOIN okb USING (bucket) '
        f'WHERE a.id < b.id)'
    )


def _minhash_sql(bands: int = 4, n: int = 3) -> str:
    return f'WITH {_minhash_cand_ctes(bands, n)} SELECT id_a, id_b FROM cand'


def _kmeans_ctes(n_cells: int = 8, iters: int = 2, dim: int = 64,
                 suffix: str = '', base_cte: str = None):
    """K-means-training CTEs shared by the trained-IVF, SemDeDup and PQ
    oracles (replays simsearch.train_ivf_centroids in SQL: md5-ordered
    init, per-round nearest-centroid assignment — round(dot,6) DESC, cell
    ASC, first-max-wins like ivf_cell — and per-dim means rounded to 6
    decimals so training error cannot propagate between engines).  Returns
    (parts, final) where ``final`` names the trained-centroid CTE.

    ``suffix`` uniquifies every CTE name so several replays can share one
    statement (one per PQ subspace); ``base_cte`` overrides the default
    full-embedding base relation and must define ``e{suffix}(vec_id, v)``.
    """
    e = f'e{suffix}'
    avgs = ', '.join(f'round(avg(v[{i + 1}]), 6)' for i in range(dim))
    dot = _dot_sql(f'{e}.v', 'c.c')
    parts = [
        base_cte or
        f'{e} AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings)',
        (
            f'init{suffix} AS (SELECT (row_number() OVER (ORDER BY md5(vec_id::varchar), vec_id) - 1)::int AS cell, '
            'list_transform(v, x -> round(x, 6)) AS c '
            f'FROM (SELECT vec_id, v FROM {e} ORDER BY md5(vec_id::varchar), vec_id LIMIT {n_cells}))'
        ),
    ]
    prev = f'init{suffix}'
    for it in range(iters):
        parts.append(
            f'assign{it}{suffix} AS (SELECT vec_id, v, cell FROM ('
            f'SELECT {e}.vec_id, {e}.v, c.cell, row_number() OVER ('
            f'PARTITION BY {e}.vec_id ORDER BY round({dot}, 6) DESC, c.cell ASC) AS rn '
            f'FROM {e} CROSS JOIN {prev} c) WHERE rn = 1)'
        )
        parts.append(
            f'cagg{it}{suffix} AS (SELECT cell, [{avgs}] AS c FROM assign{it}{suffix} GROUP BY cell)'
        )
        parts.append(
            f'cent{it}{suffix} AS (SELECT p.cell, coalesce(a.c, p.c) AS c '
            f'FROM {prev} p LEFT JOIN cagg{it}{suffix} a USING (cell))'
        )
        prev = f'cent{it}{suffix}'
    return parts, prev


def _final_assign_cte(prev: str, suffix: str = '') -> str:
    e = f'e{suffix}'
    dot = _dot_sql(f'{e}.v', 'c.c')
    return (
        f'fin{suffix} AS (SELECT vec_id, v, cell FROM ('
        f'SELECT {e}.vec_id, {e}.v, c.cell, row_number() OVER ('
        f'PARTITION BY {e}.vec_id ORDER BY round({dot}, 6) DESC, c.cell ASC) AS rn '
        f'FROM {e} CROSS JOIN {prev} c) WHERE rn = 1)'
    )


def _semantic_dedup_sql(
    threshold: float = 0.4, n_cells: int = 8, iters: int = 2, dim: int = 64
) -> str:
    """SemDeDup oracle: trained assignment + within-cell pair scan + the
    lowest-id-representative keep rule (mirrors dedup.semantic_dedup)."""
    parts, prev = _kmeans_ctes(n_cells, iters, dim)
    parts.append(_final_assign_cte(prev))
    # cell assignment replayed on the RAW vectors; normalize once after
    # fin so the within-cell pair scan is one dot per pair — mirrors
    # semantic_dedup's prenormalized assigned frame
    parts.append(f"finn AS (SELECT vec_id, cell, {_unit_sql('v')} AS v FROM fin)")
    cos = _dot_sql('a.v', 'b.v')
    parts.append(
        'dups AS (SELECT DISTINCT a.vec_id FROM finn a JOIN finn b USING (cell) '
        f'WHERE a.vec_id > b.vec_id AND round({cos}, 6) >= {threshold})'
    )
    return (
        'WITH ' + ', '.join(parts)
        + ' SELECT f.vec_id, f.cell, '
        '(f.vec_id NOT IN (SELECT vec_id FROM dups)) AS keep FROM fin f'
    )


def _pagerank_sql(edges_cte: str, iters: int = 3, damping: float = 0.85) -> str:
    """Replays operators/graph.pagerank: ``edges_cte`` must define a CTE
    ``e(src, dst)``; ranks are rounded to 6 dp per unrolled round and the
    damping constants are interpolated via repr so both engines parse the
    identical IEEE double."""
    parts = [
        edges_cte.strip(),
        'nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))',
        'nn AS (SELECT count(*)::double AS n FROM nodes)',
        'outd AS (SELECT src, count(*) AS outd FROM e GROUP BY 1)',
        'ed AS (SELECT e.src, e.dst, o.outd FROM e JOIN outd o ON e.src = o.src)',
        'pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)',
    ]
    # contributions quantized to integer pico-units before the per-dst sum
    # (mirrors graph.pagerank — double addition is order-dependent across
    # engines; integer sums are order-free)
    base, d = repr(1.0 - damping), repr(damping)
    prev = 'pr0'
    for it in range(1, iters + 1):
        parts.append(
            f'pr{it} AS (SELECT nodes.id, '
            f'round(({base} / (SELECT n FROM nn) + {d} * coalesce(t.s, 0.0)) * 1000000.0)::bigint / 1000000.0 AS pr '
            f'FROM nodes LEFT JOIN (SELECT dst AS id, '
            f'sum(round(pr / outd * 1000000000000.0)::bigint) / 1000000000000.0 AS s '
            f'FROM ed JOIN {prev} p ON ed.src = p.id GROUP BY dst) t ON nodes.id = t.id)'
        )
        prev = f'pr{it}'
    return 'WITH ' + ',\n'.join(parts) + f'\nSELECT id, pr FROM {prev}'


def _pagerank_weighted_sql(edges_cte: str, iters: int = 3, damping: float = 0.85) -> str:
    """Replays operators/graph.pagerank_weighted: ``edges_cte`` must
    define CTEs ``e(src, dst, w)`` AND ``tp(id, tw)`` (integer restart
    weights); ranks rounded to 6 dp per unrolled round, teleport
    normalization a single exact-integer division."""
    parts = [
        edges_cte.strip(),
        'nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))',
        'tvec AS (SELECT n.id, coalesce(tp.tw, 0) / (SELECT sum(tw) FROM tp) AS t '
        'FROM nodes n LEFT JOIN tp ON n.id = tp.id)',
        'wout AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1)',
        'ed AS (SELECT e.src, e.dst, e.w, o.wout FROM e JOIN wout o ON e.src = o.src)',
        'pr0 AS (SELECT id, t AS pr FROM tvec)',
    ]
    # pico-unit contribution quantization mirrors graph.pagerank_weighted
    # (order-free integer sums — see the property fuzz that caught the
    # half-ulp boundary without it)
    base, d = repr(1.0 - damping), repr(damping)
    prev = 'pr0'
    for it in range(1, iters + 1):
        parts.append(
            f'pr{it} AS (SELECT tv.id, '
            f'round(({base} * tv.t + {d} * coalesce(x.s, 0.0)) * 1000000.0)::bigint / 1000000.0 AS pr '
            f'FROM tvec tv LEFT JOIN (SELECT dst AS id, '
            f'sum(round(pr * w / wout * 1000000000000.0)::bigint) / 1000000000000.0 AS s '
            f'FROM ed JOIN {prev} p ON ed.src = p.id GROUP BY dst) x ON tv.id = x.id)'
        )
        prev = f'pr{it}'
    return 'WITH ' + ',\n'.join(parts) + f'\nSELECT id, pr FROM {prev}'


def _trained_ivf_sql(
    n_cells: int = 8, iters: int = 2, nprobe: int = 2, k: int = 10, dim: int = 64
) -> str:
    """Replays simsearch.train_ivf_centroids + ivf_topk in SQL (training
    CTEs factored into _kmeans_ctes)."""
    parts, prev = _kmeans_ctes(n_cells, iters, dim)
    parts.insert(1, 'q AS (SELECT v FROM e WHERE vec_id = 0)')
    qdot = _dot_sql('q.v', 'c.c')
    parts.append(
        'probes AS (SELECT cell FROM ('
        f'SELECT c.cell, round({qdot}, 6) AS s FROM {prev} c, q) '
        f'ORDER BY s DESC, cell ASC LIMIT {nprobe})'
    )
    parts.append(_final_assign_cte(prev))
    cos = _cosine_sql('f.v', 'q.v')
    return (
        'WITH ' + ', '.join(parts)
        + f' SELECT f.vec_id, round({cos}, 6) AS score FROM fin f, q '
        'WHERE f.cell IN (SELECT cell FROM probes) '
        f'ORDER BY score DESC, f.vec_id LIMIT {k}'
    )


def _pq_ctes(m_sub: int = 4, n_codes: int = 8, iters: int = 1, dim: int = 64):
    """Per-subspace PQ replay: slices the shared double-cast base ``eb``
    into ``m_sub`` contiguous blocks and replays the deterministic k-means
    (suffix-uniquified ``_kmeans_ctes``) plus the final code assignment in
    each — mirrors simsearch.train_pq_codebooks + pq_encode.  Returns
    (parts, fins, cents): CTE list, the per-subspace ``fin_p{s}(vec_id,
    cell)`` names, and the trained-codebook CTE names."""
    d_sub = dim // m_sub
    parts = [
        'eb AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings)'
    ]
    fins, cents = [], []
    for s in range(m_sub):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        base = f'e_p{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM eb)'
        sp, prev = _kmeans_ctes(n_codes, iters, d_sub, suffix=f'_p{s}', base_cte=base)
        parts += sp
        parts.append(_final_assign_cte(prev, suffix=f'_p{s}'))
        fins.append(f'fin_p{s}')
        cents.append(prev)
    return parts, fins, cents


def _pq_codes_sql(m_sub: int = 4, n_codes: int = 8, iters: int = 1, dim: int = 64) -> str:
    """Tall (vec_id, sub, code) PQ code table — mirrors pq_encode +
    posexplode."""
    parts, fins, _ = _pq_ctes(m_sub, n_codes, iters, dim)
    sel = ' UNION ALL '.join(
        f'SELECT vec_id, {s} AS sub, cell AS code FROM {fins[s]}' for s in range(m_sub)
    )
    return 'WITH ' + ', '.join(parts) + f' SELECT vec_id, sub, code FROM ({sel})'


def _pq_topk_sql(m_sub: int = 4, n_codes: int = 8, iters: int = 1,
                 dim: int = 64, k: int = 10, nprobe: int = None) -> str:
    """ADC top-k replay: per-subspace LUT = UNROUNDED dot of the query
    slice with every trained codebook entry (the exact doubles the Spark
    side embeds as literals — Python's left-to-right float sum is
    bit-identical to this list fold); score = the m_sub LUT terms added
    left-to-right, rounded once IN ENGINE on both sides (mirrors
    simsearch.pq_topk).  ``nprobe`` adds the composed IVF×PQ path: only
    rows in the query's nprobe nearest seeded coarse-quantizer cells are
    scored (mirrors ivf_assign + ivf_probe pruning before pq_topk)."""
    d_sub = dim // m_sub
    parts, fins, cents = _pq_ctes(m_sub, n_codes, iters, dim)
    parts.append('q AS (SELECT v FROM eb WHERE vec_id = 0)')
    where = ''
    if nprobe:
        cent_rows = ' UNION ALL '.join(
            f"SELECT {i} AS cell, round({_dot_sql('q.v', plane_sql_literal(c))}, 6) AS s FROM q"
            for i, c in enumerate(CENTROIDS)
        )
        parts.append(
            f'probes AS (SELECT cell FROM ({cent_rows}) ORDER BY s DESC, cell ASC LIMIT {nprobe})'
        )
        parts.append(f"cellof AS (SELECT vec_id, {_ivf_cell_sql('v')} AS cell FROM eb)")
        where = (
            ' WHERE f0.vec_id IN (SELECT vec_id FROM cellof '
            'WHERE cell IN (SELECT cell FROM probes))'
        )
    for s in range(m_sub):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        w = _dot_sql(f'q.v[{lo}:{hi}]', 'c.c')
        parts.append(f'lut_p{s} AS (SELECT c.cell, {w} AS w FROM {cents[s]} c, q)')
    joins = ' '.join(
        f'JOIN {fins[s]} f{s} USING (vec_id)' for s in range(1, m_sub)
    ) + ' ' + ' '.join(
        f'JOIN lut_p{s} l{s} ON f{s}.cell = l{s}.cell' for s in range(m_sub)
    )
    score = ' + '.join(f'l{s}.w' for s in range(m_sub))
    return (
        'WITH ' + ', '.join(parts)
        + f' SELECT f0.vec_id, round({score}, 6) AS score '
        f'FROM {fins[0]} f0 {joins}{where} '
        f'ORDER BY score DESC, f0.vec_id LIMIT {k}'
    )


def _pq_rerank_sql(m_sub: int = 4, n_codes: int = 8, iters: int = 1,
                   dim: int = 64, k: int = 10, candidates: int = 50) -> str:
    """Two-stage replay: the full ADC top-``candidates`` statement nested
    as the shortlist, exact cosine re-rank outside (mirrors
    simsearch.pq_rerank_topk)."""
    inner = _pq_topk_sql(m_sub, n_codes, iters, dim, k=candidates)
    cos = _cosine_sql('e.v', 'q2.v')
    return (
        f'WITH cand AS (SELECT vec_id FROM ({inner})), '
        'eb2 AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings), '
        'q2 AS (SELECT v FROM eb2 WHERE vec_id = 0) '
        f'SELECT e.vec_id, round({cos}, 6) AS score '
        'FROM eb2 e JOIN cand USING (vec_id), q2 '
        f'ORDER BY score DESC, e.vec_id LIMIT {k}'
    )


def _pca_project_sql(k: int = 8, iters: int = 8) -> str:
    """Distributed-PCA replay (mirrors simsearch.pca_top_component +
    pca_project): the covariance CTE produces the same 6-dp values as the
    green emb_covariance oracle; the power iteration is unrolled with the
    identical left-to-right C·v folds and the identical
    floor(x/‖w‖·1e6+0.5)/1e6 quantization per round (pure IEEE-double
    formula — bit-identical to the Python driver loop), so the final
    component literals embedded in the Spark plan equal this SQL's vfin."""
    cov_rows = ' UNION ALL '.join(
        f'SELECT {i} AS i, {j} AS j, '
        f'round(avg(v[{i + 1}]::DOUBLE * v[{j + 1}]::DOUBLE) '
        f'- avg(v[{i + 1}]::DOUBLE) * avg(v[{j + 1}]::DOUBLE), 6) AS cov FROM e'
        for i in range(k) for j in range(i, k)
    )
    start = '[' + ', '.join(['1.0'] + ['0.0'] * (k - 1)) + ']'
    parts = [
        'e AS (SELECT vec_id, embedding AS v FROM embeddings)',
        f'cov AS ({cov_rows})',
        'fullm AS (SELECT i, j, cov FROM cov UNION ALL SELECT j AS i, i AS j, cov FROM cov WHERE i < j)',
        'cm AS (SELECT list(cov ORDER BY i, j) AS m FROM fullm)',
        f'v0 AS (SELECT {start} AS v)',
    ]
    prev = 'v0'
    for t in range(1, iters + 1):
        parts.append(
            f'w{t} AS (SELECT list_transform(range({k}), ii -> '
            f'list_reduce(list_transform(range({k}), jj -> m[ii*{k} + jj + 1] * v[jj + 1]), '
            f'(x, y) -> x + y)) AS w FROM cm, {prev})'
        )
        parts.append(
            f'v{t} AS (SELECT list_transform(w, x -> '
            'floor(x / sqrt(list_reduce(list_transform(w, y -> y * y), (a, b) -> a + b)) '
            f'* 1000000 + 0.5) / 1000000) AS v FROM w{t})'
        )
        prev = f'v{t}'
    proj = _dot_sql(f'e.v[1:{k}]', f'{prev}.v')
    return (
        'WITH ' + ', '.join(parts)
        + f' SELECT e.vec_id, round({proj}, 6) AS pc1 FROM e, {prev}'
    )


def _clusters_ctes(
    bands: int = 4, n: int = 3, threshold: float = 0.8, docs_cte: str = None
) -> str:
    """CTE chain (for WITH RECURSIVE) ending in ``labels(id, cluster_id)``:
    LSH candidates → exact-Jaccard verify → connected components (min
    reachable id = the same fixpoint the engine's min-label propagation
    converges to)."""
    return f"""{_minhash_cand_ctes(bands, n, docs_cte=docs_cte)},
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE round(i / (sa.sz + sb.sz - i), 6) >= {threshold}
),
und AS (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
reach(id, label) AS (
  SELECT DISTINCT doc_id, doc_id FROM docs
  UNION
  SELECT u.d, r.label FROM reach r JOIN und u ON u.s = r.id
),
labels AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)"""


def _clusters_sql(bands: int = 4, n: int = 3, threshold: float = 0.8) -> str:
    """dedup_clusters oracle over the duplicated-documents fixture."""
    return f"""
WITH RECURSIVE {_clusters_ctes(bands, n, threshold)}
SELECT id, cluster_id, (id = cluster_id)::int AS keep FROM labels
"""


def _simhash_sql(bits: int = 16) -> str:
    toks = _TOKS.format(col='text')
    sums = ', '.join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    fp = ' + '.join(f'(CASE WHEN b{b} > 0 THEN {2 ** b} ELSE 0 END)' for b in range(bits))
    return (
        f'WITH tok AS (SELECT doc_id AS id, unnest({toks}) AS t FROM documents), '
        f"h AS (SELECT id, ('0x' || substr(md5(t), 1, 4))::int AS h FROM tok), "
        f'agg AS (SELECT id, {sums} FROM h GROUP BY id) '
        f'SELECT id, {fp} AS simhash FROM agg'
    )


def _ivf_cell_sql(vec: str) -> str:
    """0-based argmax over rounded centroid dots — mirrors
    functions.similarity.ivf_cell (first max wins in both engines)."""
    dots = ', '.join(
        f'round({_dot_sql(vec, plane_sql_literal(c))}, 6)' for c in CENTROIDS
    )
    return f'(list_position([{dots}], list_max([{dots}])) - 1)'


def _lsh_bucket_sql(vec: str) -> str:
    return _lsh_bucket_sql_planes(vec, PLANES)


def _lsh_bucket_sql_planes(vec: str, planes) -> str:
    """Sign-LSH bucket over an explicit plane list (mirrors
    functions.similarity.lsh_bucket for non-default plane sets — the
    knn_graph hot-fallback's 4-plane buckets and sub-plane refinement)."""
    terms = []
    for i, plane in enumerate(planes):
        p = plane_sql_literal(plane)
        terms.append(f'(CASE WHEN {_dot_sql(vec, p)} > 0 THEN {2 ** i} ELSE 0 END)')
    return '(' + ' + '.join(terms) + ')'


def oracle_sql() -> dict[str, str]:
    scrub = _SCRUB_OBJ
    iso_ts = _ISO.format(col='ts')
    iso_od = _ISO.format(col='o_orderdate')

    sql: dict[str, str] = {}

    sql['kg_customer_intrinsic'] = f"""
WITH base AS (SELECT * FROM customer)
SELECT 'customer_' || c_custkey AS subject, 'c_name' AS predicate,
       {scrub.format(col='c_name')} AS object, '<xs:string>' AS type FROM base
UNION ALL
SELECT 'customer_' || c_custkey, 'c_acctbal', CAST(c_acctbal AS VARCHAR), '<xs:float>' FROM base
UNION ALL
SELECT 'customer_' || c_custkey, 'c_mktsegment', {scrub.format(col='c_mktsegment')}, '<xs:string>' FROM base
UNION ALL
SELECT DISTINCT 'customer_' || c_custkey, 'dgraph.type', 'customer', '<xs:string>' FROM base
"""

    sql['kg_customer_edges'] = """
SELECT 'customer_' || c_custkey AS subject, 'c_nationkey' AS predicate,
       'c_nationkey_' || c_nationkey AS object, CAST(NULL AS VARCHAR) AS type
FROM customer
"""

    sql['kg_events_intrinsic'] = f"""
WITH base AS (SELECT * FROM events)
SELECT 'event_' || event_id AS subject, 'event_type' AS predicate,
       {scrub.format(col='event_type')} AS object, '<xs:string>' AS type FROM base
UNION ALL
SELECT 'event_' || event_id, 'value', CAST(value AS VARCHAR), '<xs:float>' FROM base
UNION ALL
SELECT 'event_' || event_id, 'ts', {iso_ts}, '<xs:dateTime>' FROM base
UNION ALL
SELECT DISTINCT 'event_' || event_id, 'dgraph.type', 'event', '<xs:string>' FROM base
"""

    sql['kg_events_edges'] = """
SELECT 'event_' || event_id AS subject, 'user' AS predicate,
       'user_' || user_id AS object, CAST(NULL AS VARCHAR) AS type
FROM events
"""

    sql['kg_orders_composite'] = f"""
WITH base AS (SELECT * FROM orders)
SELECT 'order_' || o_custkey || '_' || o_orderkey AS subject, 'o_orderstatus' AS predicate,
       {scrub.format(col='o_orderstatus')} AS object, '<xs:string>' AS type FROM base
UNION ALL
SELECT 'order_' || o_custkey || '_' || o_orderkey, 'o_totalprice', CAST(o_totalprice AS VARCHAR), '<xs:float>' FROM base
UNION ALL
SELECT 'order_' || o_custkey || '_' || o_orderkey, 'o_orderdate', {iso_od}, '<xs:dateTime>' FROM base
UNION ALL
SELECT DISTINCT 'order_' || o_custkey || '_' || o_orderkey, 'dgraph.type', 'order', '<xs:string>' FROM base
"""

    sql['kg_orders_override_edge'] = """
SELECT 'order_' || o_orderkey AS subject, 'customer' AS predicate,
       'customer_' || o_custkey AS object, CAST(NULL AS VARCHAR) AS type
FROM orders
"""

    sql['kg_part_csv_edges'] = """
WITH base AS (SELECT p_partkey, replace(p_name, ' ', ',') AS names FROM part),
exploded AS (
  SELECT p_partkey, trim(u.tok) AS tok
  FROM base, unnest(string_split(names, ',')) AS u(tok)
  WHERE u.tok IS NOT NULL
)
SELECT 'part_' || p_partkey AS subject, 'names' AS predicate,
       'names_' || regexp_replace(tok, '%|\\.|\\s|"|\\n|\\r\\n', '', 'g') AS object,
       CAST(NULL AS VARCHAR) AS type
FROM exploded
"""

    iso_sd = _ISO.format(col='l_shipdate')
    sql['kg_lineitem'] = f"""
WITH base AS (SELECT * FROM lineitem)
SELECT 'lineitem_' || l_orderkey || '_' || l_linenumber AS subject,
       'l_quantity' AS predicate, CAST(l_quantity AS VARCHAR) AS object,
       '<xs:float>' AS type FROM base
UNION ALL
SELECT 'lineitem_' || l_orderkey || '_' || l_linenumber, 'l_returnflag',
       {scrub.format(col='l_returnflag')}, '<xs:string>' FROM base
UNION ALL
SELECT 'lineitem_' || l_orderkey || '_' || l_linenumber, 'l_linestatus',
       {scrub.format(col='l_linestatus')}, '<xs:string>' FROM base
UNION ALL
SELECT 'lineitem_' || l_orderkey || '_' || l_linenumber, 'l_shipdate',
       {iso_sd}, '<xs:dateTime>' FROM base
UNION ALL
SELECT DISTINCT 'lineitem_' || l_orderkey || '_' || l_linenumber,
       'dgraph.type', 'lineitem', '<xs:string>' FROM base
UNION ALL
SELECT 'lineitem_' || l_orderkey || '_' || l_linenumber, 'l_partkey',
       'l_partkey_' || l_partkey, CAST(NULL AS VARCHAR) FROM base
UNION ALL
SELECT 'lineitem_' || l_orderkey || '_' || l_linenumber, 'l_suppkey',
       'l_suppkey_' || l_suppkey, CAST(NULL AS VARCHAR) FROM base
"""

    sql['kg_nation_pre_rename'] = f"""
WITH base AS (SELECT * FROM nation)
SELECT 'nation_' || n_nationkey AS subject, 'name' AS predicate,
       {scrub.format(col='n_name')} AS object, '<xs:string>' AS type FROM base
UNION ALL
SELECT DISTINCT 'nation_' || n_nationkey, 'dgraph.type', 'nation', '<xs:string>' FROM base
"""

    sql['kg_supplier_vertical'] = f"""
WITH base AS (SELECT * FROM supplier)
SELECT 'supplier_' || s_suppkey AS subject, 's_name' AS predicate,
       {scrub.format(col='s_name')} AS object, '<xs:string>' AS type FROM base
UNION ALL
SELECT DISTINCT 'supplier_' || s_suppkey, 'dgraph.type', 'supplier', '<xs:string>' FROM base
UNION ALL
SELECT 'supplier_' || s_suppkey, 's_nationkey', 's_nationkey_' || s_nationkey,
       CAST(NULL AS VARCHAR) FROM base
"""

    sql['kg_upserts_customer'] = f"""
WITH base AS (SELECT * FROM customer),
i AS (
  SELECT 'customer_' || c_custkey AS s, 'c_name' AS p,
         {scrub.format(col='c_name')} AS o, '<xs:string>' AS t FROM base
  UNION ALL
  SELECT 'customer_' || c_custkey, 'c_acctbal', CAST(c_acctbal AS VARCHAR), '<xs:float>' FROM base
  UNION ALL
  SELECT 'customer_' || c_custkey, 'c_mktsegment', {scrub.format(col='c_mktsegment')}, '<xs:string>' FROM base
  UNION ALL
  SELECT DISTINCT 'customer_' || c_custkey, 'dgraph.type', 'customer', '<xs:string>' FROM base
)
SELECT '<' || s || '> <' || p || '> "' || o || '"^^' || t || ' .' AS line FROM i
UNION ALL
SELECT '<customer_' || c_custkey || '> <c_nationkey> <c_nationkey_' || c_nationkey || '> .' FROM base
"""

    sql['kg_conversation_edges'] = """
SELECT 'turn_u' || user_id || '_' || event_id AS subject, 'conv' AS predicate,
       'conversation_u' || user_id AS object, CAST(NULL AS VARCHAR) AS type
FROM events
"""

    sql['kg_region_linked_edges'] = """
SELECT 'nation_' || n.n_nationkey AS subject, 'n_regionkey' AS predicate,
       coalesce('region_' || r.r_name, 'n_regionkey_' || n.n_regionkey) AS object,
       CAST(NULL AS VARCHAR) AS type
FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""

    sql['kg_link_entities'] = """
WITH edges AS (
  SELECT 'event_' || event_id AS subject, 'user' AS predicate,
         'user_' || user_id AS object, CAST(NULL AS VARCHAR) AS type
  FROM events
),
dict AS (
  SELECT DISTINCT 'user_' || user_id AS raw,
         'canonical_user_' || (user_id % 10) AS canonical
  FROM events
)
SELECT e.subject, e.predicate,
       coalesce(d.canonical, e.object) AS object, e.type
FROM edges e LEFT JOIN dict d ON e.object = d.raw
"""

    schema_lines = generate_schema(create_schema(SCHEMA_CONFIG)).split('\n')
    sql['kg_schema_lines'] = 'SELECT * FROM (VALUES ' + ', '.join(
        "('" + l.replace("'", "''") + "')" for l in schema_lines
    ) + ') AS t(line)'

    type_blocks = generate_types(create_schema(SCHEMA_CONFIG))
    sql['kg_types_lines'] = 'SELECT * FROM (VALUES ' + ', '.join(
        "(e'" + b.replace('\\', '\\\\').replace("'", "\\'").replace('\n', '\\n') + "')"
        for b in type_blocks
    ) + ') AS t(block)'

    # S6 round-trip: the gzip export must contain exactly the upsert lines
    sql['kg_rdf_gzip_roundtrip'] = sql['kg_upserts_customer']

    # C11: callables resolve to the same plan as the literal config
    sql['kg_callable_config'] = sql['kg_supplier_vertical']

    sql['kg_edge_id_convention'] = f"""
WITH base AS (SELECT * FROM events)
SELECT 'event_' || event_id AS subject, 'event_type' AS predicate,
       {scrub.format(col='event_type')} AS object, '<xs:string>' AS type FROM base
UNION ALL
SELECT DISTINCT 'event_' || event_id, 'dgraph.type', 'event', '<xs:string>' FROM base
UNION ALL
SELECT 'event_' || event_id, 'user', 'user_' || user_id, CAST(NULL AS VARCHAR) FROM base
"""

    # Streaming append-mode + AvailableNow: emitted set = batch GROUP BY
    # over windows closed by the final watermark (max ts − 1 hour)
    sql['stream_event_windows'] = """
WITH mx AS (SELECT max(ts) AS m FROM events),
w AS (SELECT date_trunc('day', ts)::TIMESTAMP AS ws, event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2)
SELECT ws AS window_start, ws + INTERVAL 1 DAY AS window_end, event_type, n_events
FROM w, mx
WHERE ws + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
"""

    # Stateful sessions, single AvailableNow batch: one final row per conv
    sql['stream_stateful_sessions'] = """
SELECT 'u' || user_id AS conv_id,
       count(*) AS n_turns,
       count(CASE WHEN event_type != 'click' THEN 1 END) AS n_tool_calls,
       epoch_us(min(ts)) AS first_ts,
       epoch_us(max(ts)) AS last_ts,
       max(event_id)::int AS max_turn_idx
FROM events GROUP BY 1
"""

    # Dedup under a hot key is plain DISTINCT.
    sql['kg_salted_dedup'] = """
SELECT DISTINCT
  CASE WHEN event_id % 10 < 9 THEN 'hot_conv' ELSE 'u' || user_id END AS subject,
  event_type AS predicate,
  '"' || event_type || '"' AS object,
  '<xs:string>' AS type
FROM events
"""

    # Multi-batch stateful sessions: totals equal the batch aggregate ONLY
    # if state accumulated across the two parity micro-batches (otherwise
    # max(n_turns) is the larger half, not the sum); n_updates = number of
    # batches that touched the conversation (= distinct event_id parities).
    sql['stream_stateful_multibatch'] = """
SELECT 'u' || user_id AS conv_id,
       count(*) AS n_turns,
       count(CASE WHEN event_type != 'click' THEN 1 END) AS n_tool_calls,
       epoch_us(min(ts)) AS first_ts,
       epoch_us(max(ts)) AS last_ts,
       max(event_id)::int AS max_turn_idx,
       count(DISTINCT event_id % 2) AS n_updates
FROM events GROUP BY 1
"""

    sql['kg_graph_completion'] = """
SELECT 'conversation_u' || user_id AS subject, 'dgraph.type' AS predicate,
       'conversation' AS object, '<xs:string>' AS type
FROM (SELECT DISTINCT user_id FROM events)
UNION ALL
SELECT DISTINCT 'tool_' || event_type, 'dgraph.type', 'tool', '<xs:string>'
FROM events WHERE event_type != 'click'
"""

    # PageRank: 3 unrolled rounds, per-round round(pr, 6) re-synchronizes
    # both engines (same trick as the k-means oracle); base/damping
    # constants interpolated via repr so both parse the identical double.
    _PR_EDGES = """
pairs AS (SELECT DISTINCT 'u' || user_id AS conv, 'tool_' || event_type AS tool
          FROM events WHERE event_type != 'click'),
e AS (SELECT conv AS src, tool AS dst FROM pairs
      UNION ALL SELECT tool AS src, conv AS dst FROM pairs)"""
    sql['kg_pagerank'] = _pagerank_sql(_PR_EDGES, iters=3, damping=0.85)

    # LPA communities: same edge CTE, 3 unrolled plurality-with-self-vote
    # rounds (mirrors graph.label_propagation — integer/string only).
    _lpa_parts = [
        _PR_EDGES.strip(),
        'und AS (SELECT DISTINCT a, b FROM '
        '(SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst AS a, src AS b FROM e))',
        'nodes AS (SELECT DISTINCT a AS id FROM und)',
        'voters AS (SELECT a, b FROM und UNION SELECT id AS a, id AS b FROM nodes)',
        'l0 AS (SELECT id, id AS label FROM nodes)',
    ]
    for _r in range(1, 4):
        _lpa_parts.append(
            f'c{_r} AS (SELECT v.a AS id, l.label, count(*) AS c '
            f'FROM voters v JOIN l{_r - 1} l ON v.b = l.id GROUP BY 1, 2)'
        )
        _lpa_parts.append(
            f'l{_r} AS (SELECT id, label FROM (SELECT id, label, row_number() OVER ('
            f'PARTITION BY id ORDER BY c DESC, label) AS rn FROM c{_r}) WHERE rn = 1)'
        )
    sql['kg_lpa_communities'] = (
        'WITH ' + ', '.join(_lpa_parts) + ' SELECT id, label FROM l3'
    )

    # weighted/personalized: over the co-occurrence projection, restart
    # mass proportional to node strength (integer-exact normalization)
    _WPR_EDGES = """
pairs AS (SELECT DISTINCT 'u' || user_id AS conv, 'tool_' || event_type AS tool
          FROM events WHERE event_type != 'click'),
proj AS (SELECT p1.tool AS a, p2.tool AS b, count(*) AS weight
         FROM pairs p1 JOIN pairs p2 ON p1.conv = p2.conv AND p1.tool < p2.tool
         GROUP BY 1, 2),
e AS (SELECT a AS src, b AS dst, weight AS w FROM proj
      UNION ALL SELECT b AS src, a AS dst, weight AS w FROM proj),
tp AS (SELECT src AS id, sum(w)::bigint AS tw FROM e GROUP BY 1)"""
    sql['kg_pagerank_weighted'] = _pagerank_weighted_sql(_WPR_EDGES, iters=3, damping=0.85)
    sql['kg_negative_samples'] = """
WITH e AS (SELECT 'order_' || o_orderkey AS subject, 'customer' AS predicate,
                  'customer_' || o_custkey AS object FROM orders),
nodes AS (SELECT DISTINCT object AS id FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
bkt AS (SELECT id, ('0x' || substr(md5(id), 1, 8))::bigint % 64 AS b FROM nodes),
cnt AS (SELECT b, count(*) AS c FROM bkt GROUP BY 1),
off AS (SELECT b, coalesce(sum(c) OVER (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM cnt),
idx AS (SELECT bkt.id,
               off.o + row_number() OVER (PARTITION BY bkt.b ORDER BY bkt.id) - 1 AS idx
        FROM bkt JOIN off ON bkt.b = off.b),
fan AS (SELECT e.*, u.i AS neg_idx FROM e, unnest([0, 1]) AS u(i)),
drawn AS (
  SELECT f.subject, f.predicate, f.object, f.neg_idx, ti.idx AS true_idx,
         ('0x' || substr(md5(f.subject || '|' || f.predicate || '|' || f.object
                             || '|' || CAST(f.neg_idx AS VARCHAR) || '|42'), 1, 8))::bigint
           % (SELECT n FROM nn) AS draw
  FROM fan f JOIN idx ti ON f.object = ti.id),
resolved AS (
  SELECT subject, predicate, object, neg_idx,
         CASE WHEN draw = true_idx THEN (draw + 1) % (SELECT n FROM nn) ELSE draw END AS nidx
  FROM drawn)
SELECT r.subject, r.predicate, r.object, CAST(r.neg_idx AS INT) AS neg_idx,
       ni.id AS neg_object
FROM resolved r JOIN idx ni ON r.nidx = ni.idx
"""

    sql['kg_khop'] = f"""
WITH RECURSIVE {_PR_EDGES.strip()},
walk(id, hop) AS (
  SELECT 'tool_error', 0
  UNION
  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.id WHERE w.hop < 3
),
mh AS (SELECT id, min(hop) AS hop FROM walk GROUP BY 1)
SELECT hop, count(*) AS n_nodes FROM mh GROUP BY 1
"""
    _COOC = """
pairs AS (SELECT DISTINCT 'u' || user_id AS conv, 'tool_' || event_type AS tool
          FROM events WHERE event_type != 'click'),
proj AS (SELECT p1.tool AS a, p2.tool AS b, count(*) AS weight
         FROM pairs p1 JOIN pairs p2 ON p1.conv = p2.conv AND p1.tool < p2.tool
         GROUP BY 1, 2)"""
    sql['kg_tool_cooccurrence'] = f"WITH {_COOC}\nSELECT a, b, weight FROM proj"
    sql['kg_triangles'] = f"""
WITH {_COOC}
SELECT count(*) AS n_triangles
FROM proj e1
JOIN proj e2 ON e2.a = e1.b
JOIN proj e3 ON e3.a = e1.a AND e3.b = e2.b
"""

    sql['text_topk_per_lang'] = f"""
WITH scored AS (SELECT doc_id, lang, {_quality_sql()} AS quality FROM documents),
ranked AS (SELECT lang, doc_id, quality,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY quality DESC, doc_id ASC) AS rank
           FROM scored)
SELECT lang, CAST(rank AS INT) AS rank, doc_id, quality
FROM ranked WHERE rank <= 3
"""

    sql['kg_orphan_edges'] = """
WITH eobj AS (SELECT 'customer' AS predicate, 'customer_' || o_custkey AS obj FROM orders),
refs AS (SELECT predicate, obj, count(*) AS n FROM eobj GROUP BY 1, 2),
nodes AS (SELECT DISTINCT 'customer_' || c_custkey AS obj FROM customer
          WHERE c_mktsegment = 'BUILDING'),
orph AS (SELECT r.* FROM refs r LEFT JOIN nodes n ON r.obj = n.obj WHERE n.obj IS NULL),
tot AS (SELECT predicate, CAST(sum(n) AS BIGINT) AS n_edges FROM refs GROUP BY 1),
ost AS (SELECT predicate, CAST(sum(n) AS BIGINT) AS n_orphan_edges,
               count(*) AS n_orphan_objects FROM orph GROUP BY 1)
SELECT t.predicate, t.n_edges,
       coalesce(o.n_orphan_edges, 0) AS n_orphan_edges,
       coalesce(o.n_orphan_objects, 0) AS n_orphan_objects
FROM tot t LEFT JOIN ost o ON t.predicate = o.predicate
"""
    sql['kg_degree_stats'] = f"""
WITH {_PR_EDGES},
o AS (SELECT src AS id, count(*) AS out_degree FROM e GROUP BY 1),
i AS (SELECT dst AS id, count(*) AS in_degree FROM e GROUP BY 1)
SELECT id, coalesce(out_degree, 0) AS out_degree, coalesce(in_degree, 0) AS in_degree
FROM o FULL OUTER JOIN i USING (id)
"""

    # Incremental merge: the single-valued branch mirrors the engine's
    # struct-max aggregate as a row_number window ordered (__batch DESC,
    # object DESC, type DESC) — identical lexicographic winner (oracle
    # side may window: DuckDB isn't the thing being skew-audited).
    sql['kg_incremental_merge'] = """
WITH existing AS (
  SELECT 'turn_' || event_id AS subject, 'etype' AS predicate,
         event_type AS object, '<xs:string>' AS type, 0 AS b FROM events
  UNION ALL
  SELECT 'turn_' || event_id, 'user', user_id::varchar, '<xs:string>', 0 FROM events
  UNION ALL
  SELECT 'turn_' || event_id, 'tool', 'tool_' || event_type, NULL, 0
  FROM events WHERE event_type != 'click'
),
delta AS (
  SELECT 'turn_' || event_id AS subject, 'etype' AS predicate,
         'corrected_' || event_type AS object, '<xs:string>' AS type, 1 AS b
  FROM events WHERE event_id % 3 = 0
  UNION ALL
  SELECT 'turn_' || event_id, 'tool', 'tool_extra', NULL, 1
  FROM events WHERE event_id % 5 = 0
),
tagged AS (SELECT * FROM existing UNION ALL SELECT * FROM delta),
single AS (
  SELECT subject, predicate, object, type FROM (
    SELECT subject, predicate, object, type,
           row_number() OVER (PARTITION BY subject, predicate
                              ORDER BY b DESC, object DESC, type DESC) AS rn
    FROM tagged WHERE type IS NOT NULL) WHERE rn = 1
),
edges AS (SELECT DISTINCT subject, predicate, object, type
          FROM tagged WHERE type IS NULL)
SELECT * FROM single UNION ALL SELECT * FROM edges
"""

    # Streaming triple extraction is batch-equivalent (stateless transform,
    # unique subjects → dgraph.type rows per input row, no distinct).
    full_scrub = r"""regexp_replace({col}, '%|\.|\s|"|\n|\r\n', '', 'g')"""
    sql['stream_kg_triples'] = f"""
WITH base AS (
  SELECT 'u' || user_id AS conv, event_id AS idx, event_type AS role, props,
         CASE WHEN event_type != 'click' THEN event_type END AS tool, ts
  FROM events
)
SELECT 'turn_' || conv || '_' || idx AS subject, 'role' AS predicate,
       {scrub.format(col='role')} AS object, '<xs:string>' AS type, 0 AS is_edge FROM base
UNION ALL
SELECT 'turn_' || conv || '_' || idx, 'text', {scrub.format(col='props')}, '<xs:string>', 0 FROM base
UNION ALL
SELECT 'turn_' || conv || '_' || idx, 'ts', {iso_ts}, '<xs:dateTime>', 0 FROM base
UNION ALL
SELECT 'turn_' || conv || '_' || idx, 'dgraph.type', 'turn', '<xs:string>', 0 FROM base
UNION ALL
SELECT 'turn_' || conv || '_' || idx, 'tool', 'tool_' || {full_scrub.format(col='tool')},
       CAST(NULL AS VARCHAR), 1 FROM base WHERE tool IS NOT NULL
"""

    # the storage-path query must come off disk with exactly the rows the
    # batch transform produces — same oracle SQL as the in-memory stream
    sql['stream_kg_materialize'] = sql['stream_kg_triples']

    # Replay dedup: the stream ingests every turn plus a replayed third;
    # bounded per-key state must absorb the replays, leaving the distinct
    # turn set (events keys are unique, so distinct = the events table).
    sql['stream_replay_dedup'] = """
SELECT 'u' || user_id AS conv_id, event_id::int AS turn_idx, epoch_us(ts) AS ts_us
FROM events
"""

    norm = _NORM.format(col='text')
    sql['dedup_exact'] = f"""
WITH {_docs_dups_cte()}
SELECT md5({norm}) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
FROM docs GROUP BY 1
"""

    # max_df hot-shingle guard mirrored (engine default max_df=1000)
    sql['dedup_ngram_jaccard'] = f"""
WITH {_docs_dups_cte()}, {_shingles_cte(3)},
hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
shg AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT id, count(*) AS sz FROM shg GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM shg a JOIN shg b USING (s) WHERE a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.8
"""

    sql['dedup_minhash_lsh'] = _minhash_sql(bands=4, n=3)
    sql['dedup_clusters'] = _clusters_sql(bands=4, n=3, threshold=0.8)
    sql['dedup_simhash'] = _simhash_sql(bits=16)

    _toks_txt = _TOKS.format(col='text')
    sql['dedup_blocks'] = f"""
WITH docs AS (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
toks AS (SELECT doc_id, {_toks_txt} AS t FROM docs),
blk AS (SELECT doc_id, i AS pos,
               array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ') AS btext
        FROM toks, unnest(range(0, CAST(ceil(len(t) / 8.0) AS INT))) AS u(i)),
h AS (SELECT doc_id, pos, btext, md5(btext) AS bh FROM blk),
dup AS (SELECT bh FROM h GROUP BY bh HAVING count(DISTINCT doc_id) > 1),
kept AS (SELECT h.* FROM h LEFT JOIN dup USING (bh) WHERE dup.bh IS NULL),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(btext, ' ' ORDER BY pos) AS clean
        FROM kept GROUP BY 1),
nb AS (SELECT doc_id, CAST(ceil(len(t) / 8.0) AS INT) AS n_blocks FROM toks)
SELECT nb.doc_id, nb.n_blocks,
       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(agg.clean, '')) AS clean_fp
FROM nb LEFT JOIN agg USING (doc_id)
"""

    # positional-shingle span dedup: overlapping spans merge via the
    # sorted-starts gap fold (8 + Σ min(8, gap)) — mirrors dedup.dup_spans
    sql['dedup_spans'] = f"""
WITH docs AS (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
toks AS (SELECT doc_id, {_toks_txt} AS t,
                COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE len({_toks_txt}) END, 0)::bigint AS n_tokens
         FROM docs),
g AS (SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS gh
      FROM toks, unnest(range(1, len(t) - 6)) AS u(i)),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
st AS (SELECT doc_id, list_sort(list(pos)) AS s
       FROM g JOIN dup USING (gh) GROUP BY doc_id),
cov AS (SELECT doc_id,
               (8 + CASE WHEN len(s) >= 2
                         THEN list_sum(list_transform(range(2, len(s) + 1),
                                                      j -> least(8, s[j] - s[j-1])))
                         ELSE 0 END)::bigint AS n_dup
        FROM st)
SELECT t.doc_id AS id, t.n_tokens,
       COALESCE(c.n_dup, 0) AS n_dup_tokens,
       CASE WHEN t.n_tokens = 0 THEN 0.0
            ELSE round(COALESCE(c.n_dup, 0) / t.n_tokens, 6) END AS dup_frac
FROM toks t LEFT JOIN cov c USING (doc_id)
"""

    passing_cte = (
        "docs AS (SELECT doc_id, text FROM scored "
        "WHERE quality >= 0.5 AND lang_pred = 'en')"
    )
    sql['corpus_curation'] = f"""
WITH RECURSIVE
base AS (SELECT doc_id, text FROM documents
         UNION ALL SELECT doc_id + 1000000, text FROM documents),
scored AS (SELECT doc_id, text, {_quality_sql()} AS quality,
                  {_lang_sql()} AS lang_pred FROM base),
{_clusters_ctes(bands=4, n=3, threshold=0.8, docs_cte=passing_cte)}
SELECT s.doc_id, s.quality, s.lang_pred
FROM scored s JOIN labels l ON l.id = s.doc_id
WHERE l.id = l.cluster_id
"""

    # md5-bucket split/pack mirrors operators/curation.py _id_bucket:
    # first 8 hex digits of md5(id) as unsigned int, mod n
    _BKT = "('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % {n}"
    sql['corpus_split'] = f"""
WITH b AS (SELECT doc_id, {_BKT.format(n=100)} AS bk FROM documents)
SELECT CASE WHEN bk < 98 THEN 'train' WHEN bk < 99 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1
"""

    # PII patterns shared verbatim with functions/text.py PII_PATTERNS
    # (explicit ASCII classes — identical under Java regex and RE2)
    _EM = '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'
    _SSN = '[0-9]{3}-[0-9]{2}-[0-9]{4}'
    _PH = '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'
    sql['text_pii_redact'] = f"""
WITH p AS (SELECT doc_id,
             text || ' call 555-123-4567 ssn ' ||
             lpad((doc_id % 1000)::varchar, 3, '0') || '-45-6789 mail u' ||
             doc_id || '@example.com' AS text
           FROM documents),
r1 AS (SELECT doc_id, len(regexp_extract_all(text, '{_EM}')) AS n_email,
              regexp_replace(text, '{_EM}', '<EMAIL>', 'g') AS t FROM p),
r2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t, '{_SSN}')) AS n_ssn,
              regexp_replace(t, '{_SSN}', '<SSN>', 'g') AS t FROM r1),
r3 AS (SELECT doc_id, n_email, n_ssn, len(regexp_extract_all(t, '{_PH}')) AS n_phone,
              regexp_replace(t, '{_PH}', '<PHONE>', 'g') AS t FROM r2)
SELECT doc_id, n_email, n_ssn, n_phone, md5(t) AS red_fp FROM r3
"""

    toks_dc = _TOKS.format(col='text')
    sql['corpus_decontaminate'] = f"""
WITH t AS (SELECT doc_id AS id, {toks_dc} AS t FROM documents),
g AS (SELECT id, u.s FROM t,
      unnest(CASE WHEN len(t) < 5 THEN []
             ELSE list_transform(range(1, len(t) - 3),
                  i -> array_to_string(list_slice(t, i, i + 4), ' ')) END) AS u(s)),
ev AS (SELECT DISTINCT s FROM g WHERE id % 97 = 0)
SELECT g.id AS doc_id, count(*) AS n_hits, count(DISTINCT g.s) AS n_distinct_grams
FROM g JOIN ev USING (s)
GROUP BY 1
"""

    # packing order mirrors pack_sequences' TOTAL order (id, n_tokens,
    # md5(text)) — `ORDER BY doc_id` alone is not total under duplicate
    # ids, and the engines' tie orders differ (Spark partition-arrival vs
    # DuckDB scan-stable); NULLS FIRST matches Spark's ASC default
    toks_pack = _TOKS.format(col='text')
    sql['corpus_pack'] = f"""
WITH t AS (SELECT doc_id,
                  COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len({toks_pack}) END, 0)::bigint AS n_tokens,
                  md5(COALESCE(text, '')) AS tie,
                  {_BKT.format(n=8)} AS shard
           FROM documents),
o AS (SELECT shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard
                                 ORDER BY doc_id ASC NULLS FIRST,
                                          n_tokens ASC NULLS FIRST,
                                          tie ASC NULLS FIRST
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
      FROM t)
SELECT shard, CAST(start_offset // 512 AS BIGINT) AS pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM o GROUP BY 1, 2
"""

    # ---- BPE trainer oracle: replay the _BPE_MERGES merge rounds as a
    # generated CTE chain (the quantize-per-round pattern of pagerank /
    # k-means).  Symbols are chr(1)-wrapped with a DOUBLE delimiter
    # between them, so plain replace() — leftmost non-overlapping in both
    # engines — is exactly the greedy BPE pair merge
    # (operators/curation.py:_bpe_delim_expr).  Argmax per round uses the
    # total order (count DESC, l, r); an exhausted corpus leaves b{k}
    # empty and every later round's CTEs collapse to empty, matching the
    # operator's early stop.
    _bpe_ctes = [
        f"""w0 AS MATERIALIZED (SELECT cnt, chr(1) || array_to_string(string_split(word, ''), chr(1)||chr(1)) || chr(1) AS s
       FROM (SELECT word, count(*)::bigint AS cnt
             FROM (SELECT unnest({_TOKS.format(col='text')}) AS word FROM documents) u
             WHERE word <> '' AND regexp_matches(word, '{_BPE_PATTERN}')
             GROUP BY 1) g)"""
    ]
    for k in range(1, _BPE_MERGES + 1):
        _bpe_ctes.append(
            f"""p{k} AS MATERIALIZED (SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::bigint AS c
         FROM (SELECT cnt, string_split(substring(s, 2, length(s) - 2), chr(1)||chr(1)) AS syms FROM w{k - 1}) t,
              unnest(range(1, len(syms))) AS u(i)
         GROUP BY 1, 2)"""
        )
        _bpe_ctes.append(
            f"""b{k} AS MATERIALIZED (SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1)"""
        )
        _bpe_ctes.append(
            f"""w{k} AS MATERIALIZED (SELECT cnt, replace(s,
               chr(1) || (SELECT l FROM b{k}) || chr(1) || chr(1) || (SELECT r FROM b{k}) || chr(1),
               chr(1) || (SELECT l FROM b{k}) || (SELECT r FROM b{k}) || chr(1)) AS s
         FROM w{k - 1})"""
        )
    _bpe_union = '\nUNION ALL\n'.join(
        f'SELECT {k} AS "rank", l AS "left", r AS "right", l || r AS merged, c AS pair_count FROM b{k}'
        for k in range(1, _BPE_MERGES + 1)
    )
    sql['corpus_bpe'] = 'WITH ' + ',\n'.join(_bpe_ctes) + '\n' + _bpe_union

    # encode: replay the merge list as ONE chained replace over each
    # token's delimited symbol string (mirrors bpe_apply's compiled
    # projection), then per-doc ordered reassembly
    _rep = 's'
    for k in range(1, _BPE_MERGES + 1):
        _rep = (
            f"replace({_rep}, chr(1) || (SELECT l FROM b{k}) || chr(1) || chr(1) || (SELECT r FROM b{k}) || chr(1), "
            f"chr(1) || (SELECT l FROM b{k}) || (SELECT r FROM b{k}) || chr(1))"
        )
    sql['corpus_bpe_encode'] = (
        'WITH ' + ',\n'.join(_bpe_ctes) + f""",
tok AS (SELECT doc_id, i AS pos, t[i] AS word
        FROM (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents) d,
             unnest(range(1, len(t) + 1)) AS u(i)
        WHERE t[i] <> '' AND regexp_matches(t[i], '{_BPE_PATTERN}')),
seg AS (SELECT doc_id, pos,
               string_split(substring(s2, 2, length(s2) - 2), chr(1)||chr(1)) AS syms
        FROM (SELECT doc_id, pos, {_rep} AS s2
              FROM (SELECT doc_id, pos,
                           chr(1) || array_to_string(string_split(word, ''), chr(1)||chr(1)) || chr(1) AS s
                    FROM tok) x) y)
SELECT doc_id, count(*)::bigint AS n_words, sum(len(syms))::bigint AS n_subwords,
       md5(array_to_string(flatten(list(syms ORDER BY pos)), ' ')) AS subwords_fp
FROM seg GROUP BY 1
"""
    )
    # the trie encode path is proven bit-identical to the replace replay
    # (tests/test_bpe.py 200-merge differential), so it shares the oracle
    sql['corpus_bpe_encode_trie'] = sql['corpus_bpe_encode']

    # temperature mixing: allocation arithmetic is EXACT integer math
    # (floor(sqrt·1e6) micro-units; hugeint // division) mirroring
    # curation.mixing_rates, then the same md5-bucket membership filter
    sql['corpus_sample_temperature'] = f"""
WITH c AS (SELECT lang, count(*)::bigint AS n FROM documents GROUP BY 1),
s AS (SELECT lang, n, floor(sqrt(n) * 1000000)::bigint AS sq FROM c),
t AS (SELECT (sum(n)::hugeint * 3) // 10 AS target, sum(sq)::hugeint AS stot FROM s),
r AS (SELECT lang,
             least(1000000, ((SELECT target FROM t) * 1000000 * sq)
                            // ((SELECT stot FROM t) * n)) AS micro
      FROM s),
b AS (SELECT doc_id, lang, {_BKT.format(n=1_000_000)} AS bk FROM documents)
SELECT b.lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
       min(doc_id) AS id_min, max(doc_id) AS id_max
FROM b JOIN r ON b.lang = r.lang
WHERE b.bk < r.micro
GROUP BY 1
"""

    # stratified sampling mirrors operators/curation.py sample_stratified:
    # keep iff md5-bucket(doc_id, 1e6) < rate * 1e6 (rates quantized in
    # Python-int space on both engines)
    _rates = {'de': 1_000_000, 'en': 500_000, 'fr': 250_000, 'es': 100_000}
    _rate_case = (
        'CASE '
        + ' '.join(f"WHEN lang = '{k}' THEN {v}" for k, v in _rates.items())
        + ' ELSE 50000 END'
    )
    sql['corpus_sample_stratified'] = f"""
WITH b AS (SELECT doc_id, lang, {_BKT.format(n=1_000_000)} AS bk FROM documents)
SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
       min(doc_id) AS id_min, max(doc_id) AS id_max
FROM b WHERE bk < {_rate_case}
GROUP BY 1
"""

    sql['corpus_chunk'] = f"""
WITH toks AS (SELECT doc_id, {_toks_txt} AS t FROM documents),
ch AS (SELECT doc_id, i AS chunk_idx,
              array_to_string(t[(i * 24 + 1):(i * 24 + 32)], ' ') AS ctext
       FROM toks,
            unnest(range(0, CAST(floor((len(t) - 1) / 24) AS INT) + 1)) AS u(i)
       WHERE len(t) > 0)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(string_split(ctext, ' ')) AS INT) AS n_chunk_tokens,
       md5(ctext) AS chunk_fp
FROM ch
"""

    sql['corpus_sample_weighted'] = f"""
WITH scored AS (SELECT doc_id, lang, {_quality_sql()} AS quality FROM documents),
b AS (SELECT doc_id, lang, quality, {_BKT.format(n=1_000_000)} AS bk FROM scored)
SELECT doc_id, lang, quality FROM b
WHERE bk < CAST(round(least(1.0, greatest(0.0, quality)) * 1000000) AS BIGINT)
"""

    sql['stream_static_enrich'] = """
WITH dim AS (SELECT DISTINCT user_id, user_id % 3 AS tier FROM events)
SELECT e.event_id, e.user_id, d.tier,
       CAST(round(e.value * 1000000) AS BIGINT) AS v_micro
FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
"""

    toks_v = _TOKS.format(col='text')
    sql['text_vocab_topk'] = f"""
WITH t AS (SELECT doc_id, u.tok AS token FROM documents, unnest({toks_v}) AS u(tok)
           WHERE u.tok <> ''),
c AS (SELECT token, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
      FROM t GROUP BY 1 HAVING count(*) >= 2)
SELECT token, n_docs, n_occurrences,
       row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id
FROM c ORDER BY n_occurrences DESC, token LIMIT 200
"""

    sql['corpus_tfidf_topk'] = f"""
WITH t AS (SELECT doc_id, u.tok AS term FROM documents, unnest({toks_v}) AS u(tok)
           WHERE u.tok <> ''),
tf AS (SELECT doc_id AS id, term, count(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
s AS (SELECT tf.id, tf.term, tf.tf, dfq.doc_freq,
             CAST(tf.tf * 1000000 // dfq.doc_freq AS BIGINT) AS score_ppm,
             row_number() OVER (PARTITION BY tf.id
                 ORDER BY (tf.tf * 1000000 // dfq.doc_freq) DESC, tf.term) AS rank
      FROM tf JOIN dfq USING (term))
SELECT id, term, tf, doc_freq, score_ppm, CAST(rank AS BIGINT) AS rank
FROM s WHERE rank <= 5
"""

    sql['corpus_shard'] = """
WITH h AS (SELECT doc_id AS id, md5(doc_id::varchar || '#ep1') AS hx FROM documents),
s AS (SELECT id, ('0x' || substr(hx, 1, 8))::bigint % 8 AS shard, hx FROM h)
SELECT id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, id) - 1 AS BIGINT) AS pos
FROM s
"""

    sql['corpus_collocations'] = f"""
WITH t AS (SELECT {toks_v} AS l FROM documents),
bg0 AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z FROM t WHERE len(l) >= 2),
bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM bg0 WHERE z[1] <> '' AND z[2] <> ''),
pair AS (SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY 1, 2
         HAVING count(*) >= 2),
uni AS (SELECT u.tok AS w, count(*) AS c FROM t, unnest(l) AS u(tok)
        WHERE u.tok <> '' GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni)
SELECT p.w1, p.w2, p.pair_count,
       a.c AS count_w1, b.c AS count_w2,
       CAST(p.pair_count * tot.n_tokens * 1000000 // (a.c * b.c) AS BIGINT) AS lift_ppm
FROM pair p
JOIN uni a ON p.w1 = a.w
JOIN uni b ON p.w2 = b.w
CROSS JOIN tot
ORDER BY lift_ppm DESC, pair_count DESC, w1, w2
LIMIT 100
"""

    _inc_toks = _TOKS.format(col='text')
    _inc_sigs = ', '.join(
        f"min(('0x' || substr(md5(s || '#{j}'), 1, 15))::bigint) AS sig_{j}"
        for j in range(4)
    )
    _inc_buckets = ' UNION ALL '.join(
        f"SELECT id, '{j}|' || sig_{j} AS bucket FROM sigs" for j in range(4)
    )
    sql['dedup_incremental'] = f"""
WITH corpus AS (SELECT doc_id AS id, text FROM documents),
newb AS (SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 5 = 0
         UNION ALL
         SELECT doc_id + 2000000 AS id, text || ' qq ww ee rr tt yy uu ii'
         FROM documents WHERE doc_id % 7 = 3),
docs AS (SELECT * FROM corpus UNION ALL SELECT * FROM newb),
toks AS (SELECT id, {_inc_toks} AS t FROM docs),
sh AS (SELECT DISTINCT id, s FROM toks,
       unnest(CASE WHEN len(t) < 3 THEN []
              ELSE list_transform(range(1, len(t) - 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' ')) END) AS u(s)),
sigs AS (SELECT id, {_inc_sigs} FROM sh GROUP BY id),
buckets AS ({_inc_buckets}),
cb AS (SELECT * FROM buckets WHERE id < 1000000),
nb AS (SELECT * FROM buckets WHERE id >= 1000000),
bsz AS (SELECT bucket, count(*) AS c FROM cb GROUP BY 1),
okb AS (SELECT bucket FROM bsz WHERE c <= 10000),
cand AS (SELECT DISTINCT n.id AS id_a, c.id AS id_b
         FROM nb n JOIN cb c USING (bucket) JOIN okb USING (bucket)),
szs AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (SELECT cand.id_a, cand.id_b, count(*) AS i
          FROM cand JOIN sh a ON a.id = cand.id_a
                    JOIN sh b ON b.id = cand.id_b AND b.s = a.s
          GROUP BY 1, 2),
jac AS (SELECT id_a, id_b,
               round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter JOIN szs sa ON sa.id = inter.id_a
                   JOIN szs sb ON sb.id = inter.id_b),
best AS (SELECT id_a AS id, id_b AS dup_of, jaccard,
                row_number() OVER (PARTITION BY id_a
                                   ORDER BY jaccard DESC, id_b) AS rn
         FROM jac WHERE jaccard >= 0.5)
SELECT u.id, b.dup_of, b.jaccard, (b.dup_of IS NULL) AS keep
FROM (SELECT id FROM newb) u
LEFT JOIN (SELECT id, dup_of, jaccard FROM best WHERE rn = 1) b USING (id)
"""

    # Streaming ingest dedup is the SAME admission control drained in two
    # forced micro-batches through a parquet sink — verdicts are
    # micro-batch-split invariant (each doc judged only against the static
    # corpus), so the batch oracle checks the sink verbatim.
    sql['stream_ingest_dedup'] = sql['dedup_incremental']

    sql['emb_knn_classify'] = f"""
WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v0, label FROM embeddings),
e AS (SELECT vec_id, {_unit_sql('v0')} AS v, label FROM e0),
q AS (SELECT vec_id AS qid, v AS qv, label AS true_label FROM e WHERE vec_id % 25 = 0),
r AS (SELECT vec_id AS rid, v AS rv, label FROM e WHERE vec_id % 25 <> 0),
s AS (SELECT q.qid, q.true_label, r.rid, r.label,
             round({_dot_sql('r.rv', 'q.qv')}, 6) AS cos
      FROM r, q),
tk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, rid) AS rnk FROM s),
votes AS (SELECT qid, true_label, label, count(*) AS votes
          FROM tk WHERE rnk <= 5 GROUP BY 1, 2, 3),
win AS (SELECT qid, label, votes, true_label,
               row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
        FROM votes)
SELECT qid AS id, label AS pred_label, CAST(votes AS BIGINT) AS votes,
       true_label, (label = true_label) AS correct
FROM win WHERE vr = 1
"""

    _VOCAB_CTES = f"""
t AS (SELECT doc_id, u.pos AS pos, d.tk[u.pos] AS token
      FROM (SELECT doc_id, {toks_v} AS tk FROM documents) d,
           unnest(range(1, len(d.tk) + 1)) AS u(pos)
      WHERE d.tk[u.pos] <> ''),
c AS (SELECT token, count(*) AS n_occurrences FROM t GROUP BY 1 HAVING count(*) >= 2),
v AS (SELECT token, row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id
      FROM c ORDER BY n_occurrences DESC, token LIMIT 200)"""

    sql['corpus_tokenize'] = f"""
WITH {_VOCAB_CTES},
j AS (SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS tid,
             CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
      FROM t LEFT JOIN v ON t.token = v.token)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_fp
FROM j GROUP BY 1
"""

    sql['text_unigram_logprob'] = f"""
WITH t AS (SELECT doc_id, u.tok AS token FROM documents, unnest({toks_v}) AS u(tok)
           WHERE u.tok <> ''),
freq AS (SELECT token, count(*) AS c FROM t GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM freq),
lp AS (SELECT token, CAST(round(ln(c::double / (SELECT total FROM tot)) * 1000000) AS BIGINT) AS lp_micro
       FROM freq)
SELECT t.doc_id, count(*) AS n_tokens,
       round((CAST(sum(lp.lp_micro) AS DOUBLE) / count(*)) / 1000000, 6) AS avg_logprob
FROM t JOIN lp ON t.token = lp.token
GROUP BY 1
"""

    # Stupid-Backoff bigram LM, held-out split (mirrors curation.py:
    # bigram_logprob): every branch quantized to BIGINT micro-nats in
    # engine; bigrams via the same struct-list transform as collocations.
    _AM = 'CAST(round(ln(0.4) * 1000000) AS BIGINT)'
    _BGU = (
        "unnest(CASE WHEN len(t) < 2 THEN [] ELSE list_transform("
        "range(1, len(t)), i -> {'w1': t[i], 'w2': t[i + 1]}) END) AS u(s)"
    )
    sql['text_bigram_logprob'] = f"""
WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
sc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
trt AS (SELECT u.tok AS w FROM tr, unnest({toks_v}) AS u(tok) WHERE u.tok <> ''),
uni AS (SELECT w, count(*) AS c FROM trt GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni),
trbg AS (SELECT s['w1'] AS w1, s['w2'] AS w2
         FROM (SELECT {toks_v} AS t FROM tr) x, {_BGU}
         WHERE s['w1'] <> '' AND s['w2'] <> ''),
bc AS (SELECT w1, w2, count(*) AS cb FROM trbg GROUP BY 1, 2),
dbg AS (SELECT doc_id, s['w1'] AS w1, s['w2'] AS w2
        FROM (SELECT doc_id, {toks_v} AS t FROM sc) x, {_BGU}
        WHERE s['w1'] <> '' AND s['w2'] <> ''),
lp AS (SELECT d.doc_id,
       CASE WHEN bc.cb IS NOT NULL
              THEN CAST(round(ln(bc.cb::double / u1.c) * 1000000) AS BIGINT)
            WHEN u2.c IS NOT NULL
              THEN {_AM} + CAST(round(ln(u2.c::double / (SELECT total FROM tot)) * 1000000) AS BIGINT)
            ELSE {_AM} + CAST(round(ln(1.0 / (SELECT total FROM tot)) * 1000000) AS BIGINT)
       END AS lp_micro
       FROM dbg d
       LEFT JOIN bc ON d.w1 = bc.w1 AND d.w2 = bc.w2
       LEFT JOIN uni u1 ON d.w1 = u1.w
       LEFT JOIN uni u2 ON d.w2 = u2.w)
SELECT doc_id, count(*) AS n_bigrams,
       round((CAST(sum(lp_micro) AS DOUBLE) / count(*)) / 1000000, 6) AS avg_logprob
FROM lp GROUP BY 1
"""

    # Per-source cap (mirrors curation.cap_per_source): quality is the
    # shared _quality_sql heuristic, rank the same total order.
    sql['corpus_source_cap'] = f"""
WITH q AS (SELECT doc_id, source, {_quality_sql()} AS quality FROM documents)
SELECT doc_id, source, quality,
       row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank,
       (row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id)) <= 10 AS kept
FROM q
"""

    # Corpus health rollup (mirrors curation.corpus_health): quality
    # micro-quantized per doc before the sum, rates in integer ppm.
    _norm_v = _NORM.format(col='text')
    sql['corpus_health'] = f"""
WITH s AS (SELECT count(*) AS n_docs,
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks_v}) END) AS BIGINT) AS n_tokens,
       count(DISTINCT md5({_norm_v})) AS n_distinct,
       CAST(sum(CAST(round({_quality_sql()} * 1000000) AS BIGINT)) AS BIGINT) AS q_micro
   FROM documents),
l AS (SELECT {_lang_sql()} AS lang FROM documents),
tl AS (SELECT lang, count(*) AS c FROM l GROUP BY 1 ORDER BY c DESC, lang LIMIT 1)
SELECT n_docs, n_tokens,
       CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT) AS dup_ppm,
       lang AS top_lang,
       CAST(c * 1000000 // n_docs AS BIGINT) AS top_lang_ppm,
       round((q_micro::DOUBLE / n_docs) / 1000000, 6) AS avg_quality
FROM s, tl
"""

    # floor(epoch(ts)) mirrors Spark unix_timestamp's seconds truncation
    _EPO = 'CAST(floor(epoch(ts)) AS BIGINT)'
    sql['events_sessionize'] = f"""
WITH o AS (SELECT user_id, event_id, ts,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
s AS (SELECT user_id, ts,
             CAST(sum(CASE WHEN prev IS NULL
                           OR {_EPO} - CAST(floor(epoch(prev)) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM o)
SELECT user_id, session_idx, count(*) AS n_events,
       min({_EPO}) AS start_s, max({_EPO}) AS end_s,
       max({_EPO}) - min({_EPO}) AS duration_s
FROM s GROUP BY 1, 2
"""

    sql['orders_star_join'] = """
SELECT n.n_name AS nation, count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY 1
"""

    sql['events_pivot'] = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events GROUP BY 1
"""

    sql['docs_set_ops'] = f"""
WITH q_pass AS (SELECT doc_id FROM documents WHERE {_quality_sql()} >= 0.5),
l_pass AS (SELECT doc_id FROM documents WHERE lang = 'en'),
labeled AS (
  SELECT doc_id, 'both' AS gate FROM (SELECT doc_id FROM q_pass INTERSECT SELECT doc_id FROM l_pass)
  UNION ALL
  SELECT doc_id, 'quality_only' FROM (SELECT doc_id FROM q_pass EXCEPT SELECT doc_id FROM l_pass)
)
SELECT gate, count(*) AS n_docs FROM labeled GROUP BY 1
"""

    sql['source_orc_roundtrip'] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v_sum_micro,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM events GROUP BY 1
"""

    sql['events_asof_join'] = """
WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us,
       c.event_id AS click_event_id, round(c.value, 6) AS click_value,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""

    sql['events_rolling'] = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) OVER w AS BIGINT) AS v_sum_micro_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

    sql['kg_tool_transitions'] = """
WITH seq AS (
  SELECT user_id, 'tool_' || event_type AS src,
         lead('tool_' || event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS dst
  FROM events WHERE event_type != 'click')
SELECT src, dst, count(*) AS n FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
"""

    sql['events_funnel'] = """
WITH firsts AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'signup') AS t0,
         min(ts) FILTER (WHERE event_type = 'click') AS t1,
         min(ts) FILTER (WHERE event_type = 'purchase') AS t2
  FROM events GROUP BY 1),
f AS (SELECT t0 IS NOT NULL AS r0,
             (t1 IS NOT NULL AND t1 > t0 AND t0 IS NOT NULL) AS r1,
             (t2 IS NOT NULL AND t2 > t1 AND t1 IS NOT NULL AND t1 > t0 AND t0 IS NOT NULL) AS r2
      FROM firsts)
SELECT 0 AS step_idx, 'signup' AS step, count(*) FILTER (WHERE r0) AS n_users FROM f
UNION ALL
SELECT 1, 'click', count(*) FILTER (WHERE r1) FROM f
UNION ALL
SELECT 2, 'purchase', count(*) FILTER (WHERE r2) FROM f
"""

    sql['events_retention'] = """
WITH ev AS (SELECT user_id, date_trunc('week', ts) AS p FROM events),
first AS (SELECT user_id, min(p) AS cohort FROM ev GROUP BY 1)
SELECT epoch_us(f.cohort) AS cohort_start_us,
       CAST(datediff('day', f.cohort, e.p) / 7 AS INT) AS offset,
       count(DISTINCT e.user_id) AS n_active
FROM ev e JOIN first f USING (user_id)
GROUP BY 1, 2
"""

    sql['events_ewma'] = """
WITH l AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
                  count(*) AS n_events
           FROM events GROUP BY 1)
SELECT user_id, n_events,
       floor(list_reduce(vs, (acc, x) ->
             floor((0.125 * x + 0.875 * acc) * 1000000 + 0.5) / 1000000
       ) * 1000000 + 0.5) / 1000000 AS ewma
FROM l
"""

    sql['events_cardinality'] = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""

    sql['events_quantiles'] = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY 1
"""

    sql['kg_triple_history'] = """
WITH ded AS (
  SELECT o_custkey, o_orderdate, o_orderstatus FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
), runs AS (
  SELECT o_custkey, o_orderdate, o_orderstatus,
         lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS prev
  FROM ded
), chg AS (
  SELECT o_custkey, o_orderdate, o_orderstatus FROM runs
  WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT 'customer_' || o_custkey AS subject, 'last_orderstatus' AS predicate,
       o_orderstatus AS object,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate)) AS valid_to_us
FROM chg
"""

    toks = _TOKS.format(col='text')
    punct = "(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))"
    sw = '[' + ', '.join(f"'{s}'" for s in TX.STOPWORDS) + ']'
    sw_ratio = f'(len(list_filter({toks}, t -> list_contains({sw}, t))) / len({toks})::double)'
    sql['text_stats'] = f"""
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_tokens,
  (ceil(length(text) / 4.0) + {punct})::int AS bpe_est,
  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE {punct} / length(text)::double END, 6) AS punct_ratio,
  round(
    0.5 * least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END) / 100.0)
    + 0.3 * (1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE {punct} / length(text)::double END))
    + 0.2 * (CASE WHEN len({toks}) = 0 THEN 0.0 ELSE {sw_ratio} END), 6) AS quality,
  {_lang_sql()} AS lang_pred,
  md5({norm}) AS fp
FROM documents
"""

    # repetition filters: identical sorted-run max-frequency formulation
    # (DuckDB lists are 1-based where Spark's F.get is 0-based; the CASE
    # j = len(starts) arm plays Spark's coalesce(get(starts, j+1), n))
    rth = TX.REPETITION_THRESHOLDS
    sql['text_repetition'] = f"""
WITH t AS (SELECT doc_id, {_TOKS.format(col='text')} AS toks FROM documents),
g AS (SELECT doc_id, toks,
  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)),
       i -> array_to_string(list_slice(toks, i, i + 1), ' ')) END AS g2,
  CASE WHEN len(toks) < 3 THEN [] ELSE list_transform(range(1, len(toks) - 1),
       i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END AS g3
  FROM t),
s AS (SELECT *, list_sort(g2) AS s2 FROM g),
st AS (SELECT *, list_filter(range(1, len(s2) + 1),
       i -> i = 1 OR s2[i] != s2[i-1]) AS starts FROM s),
m AS (SELECT *, CASE WHEN len(s2) = 0 THEN 0 ELSE
       list_max(list_transform(range(1, len(starts) + 1),
         j -> (CASE WHEN j = len(starts) THEN len(s2) + 1
               ELSE starts[j+1] END) - starts[j])) END AS maxrun FROM st),
f AS (SELECT doc_id, len(g2) AS n_g2,
  round(CASE WHEN len(toks) = 0 THEN 0.0
        ELSE (len(toks) - len(list_distinct(toks))) / len(toks)::double END, 6) AS dup_token_frac,
  round(CASE WHEN len(g2) = 0 THEN 0.0 ELSE maxrun / len(g2)::double END, 6) AS top_bigram_frac,
  round(CASE WHEN len(g3) = 0 THEN 0.0
        ELSE (len(g3) - len(list_distinct(g3))) / len(g3)::double END, 6) AS dup_trigram_frac
  FROM m)
SELECT doc_id, dup_token_frac, top_bigram_frac, dup_trigram_frac,
       (dup_token_frac <= {rth['dup_token_frac']}
        AND (top_bigram_frac <= {rth['top_bigram_frac']}
             OR n_g2 < {rth['min_bigrams_for_top']})
        AND dup_trigram_frac <= {rth['dup_trigram_frac']}) AS keep
FROM f
"""

    # winnowing: same k-gram construction as _shingles_cte, hashes as
    # 60-bit md5 bigints, window minima, distinct, unnest
    toks_w = _TOKS.format(col='text')
    sql['text_winnow_fingerprints'] = f"""
WITH t AS (SELECT doc_id, {toks_w} AS t FROM documents),
g AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN []
      ELSE list_transform(range(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) END AS grams FROM t),
h AS (SELECT doc_id, list_transform(grams,
           g -> ('0x' || substr(md5(g), 1, 15))::bigint) AS hs FROM g),
w AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN []
      WHEN len(hs) < 4 THEN [list_min(hs)]
      ELSE list_transform(range(1, len(hs) - 2),
           i -> list_min(list_slice(hs, i, i + 3))) END AS wins FROM h)
SELECT doc_id, u.fp FROM w, unnest(list_distinct(wins)) AS u(fp)
"""

    # Containment pairs (mirrors dedup.containment_pairs): winnowing
    # fingerprints of the augmented corpus (planted half-truncations),
    # hot-hash guard, directed shared-fp join, integer-ppm ratio.
    sql['dedup_containment'] = f"""
WITH aug AS (SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 3000000 AS doc_id, substring(text, 1, length(text) // 2) AS text
             FROM documents WHERE doc_id % 10 = 0),
t2 AS (SELECT doc_id, {toks_w} AS t FROM aug),
g2 AS (SELECT doc_id, CASE WHEN len(t) < 5 THEN []
       ELSE list_transform(range(1, len(t) - 3),
            i -> array_to_string(list_slice(t, i, i + 4), ' ')) END AS grams FROM t2),
h2 AS (SELECT doc_id, list_transform(grams,
            g -> ('0x' || substr(md5(g), 1, 15))::bigint) AS hs FROM g2),
w2 AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN []
       WHEN len(hs) < 4 THEN [list_min(hs)]
       ELSE list_transform(range(1, len(hs) - 2),
            i -> list_min(list_slice(hs, i, i + 3))) END AS wins FROM h2),
fpx AS (SELECT doc_id AS id, u.fp FROM w2, unnest(list_distinct(wins)) AS u(fp)),
ok AS (SELECT fp FROM fpx GROUP BY fp HAVING count(*) <= 200),
kept AS (SELECT id, fp FROM fpx JOIN ok USING (fp)),
sizes AS (SELECT id, count(*) AS n FROM kept GROUP BY 1),
shared AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
           FROM kept a JOIN kept b USING (fp) WHERE a.id <> b.id GROUP BY 1, 2)
SELECT s.id_a, s.id_b, s.shared, z.n AS n_a,
       CAST(s.shared * 1000000 // z.n AS BIGINT) AS containment_ppm
FROM shared s JOIN sizes z ON s.id_a = z.id
WHERE s.shared * 1000000 // z.n >= 600000
"""

    # CAST(sum AS BIGINT): DuckDB sum(int) yields HUGEINT, which fetchdf()
    # renders as float64 ('9707.0') while Spark returns bigint ('9707') —
    # the hash compares lexical forms, so pin the dtype (round-2 red row).
    sql['events_json_props'] = """
SELECT event_type, count(*) AS n,
       CAST(sum(json_extract_string(props, '$.k')::int) AS BIGINT) AS sum_k,
       min(json_extract_string(props, '$.k')::int) AS min_k,
       max(json_extract_string(props, '$.k')::int) AS max_k
FROM events GROUP BY 1
"""

    cos = _cosine_sql('e.v', 'q.v')
    sql['ann_cosine_topk'] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings),
q AS (SELECT v FROM e WHERE vec_id = 0)
SELECT e.vec_id, round({cos}, 6) AS score
FROM e, q
ORDER BY score DESC, e.vec_id
LIMIT 10
"""

    sql['ann_lsh_histogram'] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings)
SELECT {_lsh_bucket_sql('v')} AS bucket, count(*) AS n_vectors
FROM e GROUP BY 1
"""

    sql['ann_ivf_histogram'] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings)
SELECT {_ivf_cell_sql('v')} AS cell, count(*) AS n_vectors
FROM e GROUP BY 1
"""

    # probe cells: top-2 centroid scores of the query vector (score DESC,
    # cell ASC on ties) — same rule as operators.simsearch.ivf_probe
    cent_rows = ' UNION ALL '.join(
        f"SELECT {i} AS cell, round({_dot_sql('q.v', plane_sql_literal(c))}, 6) AS s FROM q"
        for i, c in enumerate(CENTROIDS)
    )
    sql['ann_ivf_topk'] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings),
q AS (SELECT v FROM e WHERE vec_id = 0),
probes AS (SELECT cell FROM ({cent_rows}) ORDER BY s DESC, cell ASC LIMIT 2)
SELECT e.vec_id, round({_cosine_sql('e.v', 'q.v')}, 6) AS score
FROM e, q
WHERE {_ivf_cell_sql('e.v')} IN (SELECT cell FROM probes)
ORDER BY score DESC, e.vec_id
LIMIT 10
"""

    # Materialized inverted file must return exactly the inline result.
    sql['ann_ivf_materialized_topk'] = sql['ann_ivf_topk']

    sql['ann_ivf_trained_topk'] = _trained_ivf_sql(n_cells=8, iters=2, nprobe=2, k=10, dim=64)
    sql['dedup_semantic'] = _semantic_dedup_sql(threshold=0.4, n_cells=8, iters=2, dim=64)
    sql['emb_pq_codes'] = _pq_codes_sql(m_sub=4, n_codes=8, iters=1, dim=64)
    sql['emb_pq_topk'] = _pq_topk_sql(m_sub=4, n_codes=8, iters=1, dim=64, k=10)
    sql['emb_pq_ivf_topk'] = _pq_topk_sql(m_sub=4, n_codes=8, iters=1, dim=64, k=10, nprobe=2)
    sql['emb_pq_rerank_topk'] = _pq_rerank_sql(m_sub=4, n_codes=8, iters=1, dim=64,
                                               k=10, candidates=50)
    sql['emb_pq_recall'] = f"""
WITH brute AS (SELECT vec_id FROM ({sql['ann_cosine_topk']})),
pqa AS (SELECT vec_id FROM ({sql['emb_pq_topk']})),
pqi AS (SELECT vec_id FROM ({sql['emb_pq_ivf_topk']})),
pqr AS (SELECT vec_id FROM ({sql['emb_pq_rerank_topk']}))
SELECT 'pq_adc' AS method, round(count(*) / 10.0, 6) AS recall_at_10
FROM pqa JOIN brute USING (vec_id)
UNION ALL
SELECT 'pq_ivf_adc', round(count(*) / 10.0, 6) FROM pqi JOIN brute USING (vec_id)
UNION ALL
SELECT 'pq_rerank', round(count(*) / 10.0, 6) FROM pqr JOIN brute USING (vec_id)
"""
    sql['emb_pca_project'] = _pca_project_sql(k=8, iters=8)

    # Recall@10 of each approximate index vs exact brute force: the three
    # candidate top-10s are the (already-green) per-method oracle queries
    # inlined as subqueries; LSH multi-probe = same bucket or Hamming-1.
    lsh_b = _lsh_bucket_sql('e.v')
    lsh_qb = _lsh_bucket_sql('q.v')
    probe_pows = ', '.join(str(2 ** i) for i in range(8))
    lsh_topk_sql = f"""
SELECT vec_id FROM (
  SELECT e.vec_id, round({_cosine_sql('e.v', 'q.v')}, 6) AS score
  FROM (SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings) e,
       (SELECT list_transform(embedding, x -> x::double) AS v FROM embeddings WHERE vec_id = 0) q
  WHERE {lsh_b} = {lsh_qb} OR xor({lsh_b}, {lsh_qb}) IN ({probe_pows})
) ORDER BY score DESC, vec_id LIMIT 10
"""
    sql['ann_recall'] = f"""
WITH brute AS (SELECT vec_id FROM ({sql['ann_cosine_topk']})),
lshk AS (SELECT vec_id FROM ({lsh_topk_sql})),
ivfk AS (SELECT vec_id FROM ({sql['ann_ivf_topk']})),
ivftk AS (SELECT vec_id FROM ({sql['ann_ivf_trained_topk']}))
SELECT 'lsh_multiprobe' AS method, round(count(*) / 10.0, 6) AS recall_at_10
FROM lshk JOIN brute USING (vec_id)
UNION ALL
SELECT 'ivf_seeded', round(count(*) / 10.0, 6) FROM ivfk JOIN brute USING (vec_id)
UNION ALL
SELECT 'ivf_trained', round(count(*) / 10.0, 6) FROM ivftk JOIN brute USING (vec_id)
"""

    # Real-decode audit: re-derive the decoder outputs in closed integer
    # form from the sha256-seeded fixture params (multimodal.py
    # synthetic_real_media) — WAV: 44-byte header + 2 bytes/frame at
    # 16 kHz; PPM: 'P6\\n{w} {h}\\n255\\n' header + exact gradient pixel
    # sums (all integer floor-division, no float replication).
    sql['multimodal_wav_decode'] = """
WITH ids AS (SELECT unnest(range(60)) AS i),
p AS (SELECT i,
        ('0x' || substr(sha256('42:' || i), 1, 2))::int AS h0,
        ('0x' || substr(sha256('42:' || i), 3, 2))::int AS h1,
        ('0x' || substr(sha256('42:' || i), 5, 2))::int AS h2
      FROM ids),
aud AS (
  SELECT i AS media_id, 'audio' AS kind,
         (44 + 2 * (800 + h1 * 8))::int AS n_bytes,
         16000 AS framerate, (800 + h1 * 8)::int AS n_samples,
         ((800 + h1 * 8) * 1000) // 16000 AS duration_ms,
         NULL::int AS width, NULL::int AS height, NULL::bigint AS pixel_sum
  FROM p WHERE i % 2 = 0),
dims AS (SELECT i, h2, (16 + h0 % 48)::int AS w, (16 + h1 % 48)::int AS hh
         FROM p WHERE i % 2 = 1),
img AS (
  SELECT i AS media_id, 'image' AS kind,
         (9 + length(w::varchar) + length(hh::varchar) + w * hh * 3)::int AS n_bytes,
         NULL::int AS framerate, NULL::int AS n_samples, NULL::bigint AS duration_ms,
         w AS width, hh AS height,
         (hh * list_sum(list_transform(range(w), x -> (x * 255) // (w - 1)))
          + w * list_sum(list_transform(range(hh), y -> (y * 255) // (hh - 1)))
          + w * hh * h2)::bigint AS pixel_sum
  FROM dims)
SELECT * FROM aud UNION ALL SELECT * FROM img
"""

    # prenormalized pair scoring (mirrors dedup.embedding_neardup_pairs*:
    # each side unit-scaled ONCE, one dot per candidate pair)
    cos_ab = _dot_sql('a.v', 'b.v')
    _cov_rows = []
    for _ci in range(8):
        for _cj in range(_ci, 8):
            _cov_rows.append(
                f'SELECT {_ci} AS i, {_cj} AS j, '
                f'round(avg(v[{_ci + 1}]::DOUBLE * v[{_cj + 1}]::DOUBLE) '
                f'- avg(v[{_ci + 1}]::DOUBLE) * avg(v[{_cj + 1}]::DOUBLE), 6) AS cov FROM e'
            )
    sql['emb_covariance'] = (
        'WITH e AS (SELECT embedding AS v FROM embeddings)\n'
        + '\nUNION ALL\n'.join(_cov_rows)
    )

    sql['emb_neardup_pairs'] = f"""
WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v0 FROM embeddings),
e AS (SELECT vec_id, {_unit_sql('v0')} AS v FROM e0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos_ab}, 6) AS cos
FROM e a, e b
WHERE a.vec_id < b.vec_id AND round({cos_ab}, 6) >= 0.4
"""

    # hot-bucket cap mirrored (engine default max_bucket=10000);
    # bucket from the RAW vector, stored v prenormalized (one dot/pair)
    sql['emb_neardup_lsh'] = f"""
WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v0 FROM embeddings),
e AS (SELECT vec_id, {_unit_sql('v0')} AS v, {_lsh_bucket_sql('v0')} AS bucket FROM e0),
okb AS (SELECT bucket FROM e GROUP BY bucket HAVING count(*) <= 10000)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, round({cos_ab}, 6) AS cos
FROM e a JOIN e b USING (bucket) JOIN okb USING (bucket)
WHERE a.vec_id < b.vec_id AND round({cos_ab}, 6) >= 0.4
"""

    # multi-probe: b-side explodes to its Hamming-1 neighbor buckets
    sql['emb_neardup_lsh_multiprobe'] = f"""
WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v0 FROM embeddings),
e AS (SELECT vec_id, {_unit_sql('v0')} AS v, {_lsh_bucket_sql('v0')} AS bucket FROM e0),
okb AS (SELECT bucket FROM e GROUP BY bucket HAVING count(*) <= 10000),
g AS (SELECT e.* FROM e JOIN okb USING (bucket)),
p AS (SELECT vec_id, v, unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8), xor(bucket, 16), xor(bucket, 32), xor(bucket, 64), xor(bucket, 128)]) AS bucket FROM g)
SELECT DISTINCT a.vec_id AS id_a, p.vec_id AS id_b, round({_dot_sql('a.v', 'p.v')}, 6) AS cos
FROM g a JOIN p ON a.bucket = p.bucket
WHERE a.vec_id < p.vec_id AND round({_dot_sql('a.v', 'p.v')}, 6) >= 0.4
"""

    sql['multimodal_meta'] = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
FROM documents
"""

    # kNN graph: directed candidates (x meets y iff bucket(x) ∈ probes(y),
    # a symmetric Hamming≤1 predicate), per-node top-5 window with the
    # (cos DESC, nbr ASC) total order — mirrors simsearch.knn_graph
    sql['emb_knn_graph'] = f"""
WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v0 FROM embeddings),
e AS (SELECT vec_id, {_unit_sql('v0')} AS v, {_lsh_bucket_sql('v0')} AS bucket FROM e0),
okb AS (SELECT bucket FROM e GROUP BY bucket HAVING count(*) <= 10000),
g AS (SELECT e.* FROM e JOIN okb USING (bucket)),
p AS (SELECT vec_id, v, unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8), xor(bucket, 16), xor(bucket, 32), xor(bucket, 64), xor(bucket, 128)]) AS bucket FROM g),
cand AS (SELECT a.vec_id AS id, p.vec_id AS nbr,
                round({_dot_sql('a.v', 'p.v')}, 6) AS cos
         FROM g a JOIN p ON a.bucket = p.bucket
         WHERE a.vec_id != p.vec_id),
r AS (SELECT id, nbr, cos,
             row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rank
      FROM cand)
SELECT id, nbr, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""

    # kNN graph, hot-fallback variant (round 5): 4-plane buckets with a
    # low cap; hot-bucket members are NOT dropped — they join within
    # (bucket, sub) where sub is a 4-plane refinement by independent
    # hyperplanes (seed+104729), with the same asymmetric Hamming-1 probe
    # expansion over the sub bits.  Cold and hot candidate sets are
    # disjoint by construction (hot ids never enter the cold branch and
    # hot meets only hot of the same original bucket), so UNION ALL — no
    # dedup — mirrors knn_graph's unionByName exactly.
    _hb = _lsh_bucket_sql_planes('v0', hyperplanes(4, 64, 42))
    _sb = _lsh_bucket_sql_planes('v0', hyperplanes(4, 64, 42 + 104_729))
    sql['emb_knn_graph_hot'] = f"""
WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v0 FROM embeddings),
e AS (SELECT vec_id, {_unit_sql('v0')} AS v, {_hb} AS bucket, {_sb} AS sub0 FROM e0),
hot AS (SELECT bucket FROM e GROUP BY bucket HAVING count(*) > 40),
cold AS (SELECT e.* FROM e ANTI JOIN hot USING (bucket)),
cp AS (SELECT vec_id, v, unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket FROM cold),
ccand AS (SELECT a.vec_id AS id, cp.vec_id AS nbr,
                 round({_dot_sql('a.v', 'cp.v')}, 6) AS cos
          FROM cold a JOIN cp ON a.bucket = cp.bucket
          WHERE a.vec_id != cp.vec_id),
h AS (SELECT e.vec_id, e.v, e.bucket, e.sub0 AS sub
      FROM e SEMI JOIN hot USING (bucket)),
hp AS (SELECT vec_id, v, bucket, unnest([sub, xor(sub, 1), xor(sub, 2), xor(sub, 4), xor(sub, 8)]) AS sub FROM h),
hcand AS (SELECT a.vec_id AS id, hp.vec_id AS nbr,
                 round({_dot_sql('a.v', 'hp.v')}, 6) AS cos
          FROM h a JOIN hp ON a.bucket = hp.bucket AND a.sub = hp.sub
          WHERE a.vec_id != hp.vec_id),
cand AS (SELECT * FROM ccand UNION ALL SELECT * FROM hcand),
r AS (SELECT id, nbr, cos,
             row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rank
      FROM cand)
SELECT id, nbr, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""

    # IVF variant: candidates from the trained coarse-quantizer cell
    # (shared _kmeans_ctes replay — identical quantized training rounds)
    _knn_parts, _knn_prev = _kmeans_ctes(8, 2, 64)
    _knn_parts.append(_final_assign_cte(_knn_prev))
    # cell assignment used the RAW vectors (identical k-means replay);
    # normalize after fin so the per-pair cosine is one dot — mirrors
    # knn_graph's ivf path
    _knn_parts.append(
        f"finn AS (SELECT vec_id, cell, {_unit_sql('v')} AS v FROM fin)"
    )
    _knn_parts.append(
        'cand AS (SELECT a.vec_id AS id, b.vec_id AS nbr, '
        f"round({_dot_sql('a.v', 'b.v')}, 6) AS cos "
        'FROM finn a JOIN finn b USING (cell) WHERE a.vec_id != b.vec_id)'
    )
    _knn_parts.append(
        'r AS (SELECT id, nbr, cos, row_number() OVER ('
        'PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rank FROM cand)'
    )
    sql['emb_knn_graph_ivf'] = (
        'WITH ' + ', '.join(_knn_parts)
        + ' SELECT id, nbr, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5'
    )

    return sql
