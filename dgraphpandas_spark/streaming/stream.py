"""Structured Streaming triple extraction.

The reference has no streaming surface (SURVEY §2.9) — its chunked-file loop
(rdf.py:71-80) is batch-incremental.  This module is the Spark-native
extension: a ``readStream`` over a transcript directory (new files = new
turns), the same transform chain (it is pure Column expressions, so it
applies unchanged to a streaming DataFrame), and a ``foreachBatch`` sink
reusing the batch materializer for exactly-once bucket commits.

``Trigger.AvailableNow`` gives the batch-equivalent semantics the lineage
layer expects: drain everything currently available, checkpoint, stop —
the incremental-ELT pattern for Iceberg-snapshot feeds.
"""
from __future__ import annotations

from typing import Any, Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.horizontal import horizontal_transform
from ..operators.vertical import TRIPLE_COLUMNS


def stream_transcripts(
    spark: SparkSession,
    input_dir: str,
    schema: str = 'conv_id string, turn_idx int, role string, text string, tool string, ts timestamp',
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option('maxFilesPerTrigger', max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_triples(
    stream_df: DataFrame,
    config: Dict[str, Any],
    config_key: str,
    **kwargs,
) -> DataFrame:
    """Apply the horizontal transform to a streaming DataFrame.

    The transform chain is stateless Column expressions, so it lifts to
    streaming directly — except the dgraph.type distinct (R3), a global
    aggregation not allowed in append-mode streams.  Subjects of transcript
    streams are unique per (conv_id, turn_idx), so ``assume_unique_subjects``
    is forced here: dgraph.type rows emit per input row that keeps a long
    row, with no state, under every config.
    Output: single union frame with intrinsic rows (type set) and edge rows
    (type null), tagged by ``is_edge``.
    """
    from pyspark.sql import functions as F

    intrinsic, edges = horizontal_transform(
        stream_df, config, config_key, assume_unique_subjects=True, **kwargs
    )
    return intrinsic.withColumn('is_edge', F.lit(False)).unionByName(
        edges.withColumn('is_edge', F.lit(True))
    )


def dedup_replayed_turns(
    transcripts_stream: DataFrame,
    lateness: str = '10 minutes',
) -> DataFrame:
    """Exactly-once turn ingestion under source replays: drop repeated
    ``(conv_id, turn_idx)`` keys within a watermark window.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    event-time watermark passes (state is bounded by lateness × arrival
    rate, not by history) — the streaming analogue of the batch pipeline's
    unique-subject assumption, sized for 10^12-turn feeds where unbounded
    dedup state is impossible."""
    return transcripts_stream.withWatermark('ts', lateness).dropDuplicatesWithinWatermark(
        ['conv_id', 'turn_idx']
    )


def write_stream_available_now(
    triples_stream: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
):
    """Drain all available input through ``batch_fn`` (typically a wrapper
    around plans.lineage.materialize_triples), then stop."""
    return (
        triples_stream.writeStream.trigger(availableNow=True)
        .option('checkpointLocation', checkpoint_dir)
        .foreachBatch(batch_fn)
        .start()
    )


def enrich_stream(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on,
    how: str = 'left',
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream is
    joined against a (bounded) static dimension — the streaming twin of
    the batch pipeline's broadcast dictionary linking
    (operators/canonicalize.py:link_entities).

    The static side is explicitly ``broadcast()``: a stream-static join
    must never shuffle the micro-batch (that would re-partition every
    batch on the join key and stall the trigger cadence); with the dim
    broadcast, each batch is enriched map-side and stays in append mode
    with no state.  Spark re-resolves file-based static sides per batch,
    so a dim table refreshed in place is picked up between triggers —
    the standard slowly-changing-dimension pattern for streaming ELT.
    """
    from pyspark.sql import functions as F

    return stream_df.join(F.broadcast(dim_df), on, how)


def stream_ingest_dedup(
    docs_stream: DataFrame,
    corpus_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = 'doc_id',
    text_col: str = 'text',
    n: int = 3,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 10_000,
    corpus_buckets: DataFrame = None,
):
    """Admission-control dedup AT INGEST: every micro-batch of newly
    arriving documents is judged against the STATIC corpus LSH index
    (operators/dedup.py:incremental_dedup) and its verdict rows
    (id, dup_of, jaccard, keep) are written to
    ``output_dir/batch_id=<micro-batch id>``, so reading ``output_dir``
    gives the verdicts plus a ``batch_id`` partition column.

    Micro-batch-split INVARIANT by construction: each document's verdict
    depends only on the static corpus — never on which trigger carried
    the document or what else shared its batch (batch-internal dups are
    out of scope, exactly as in the batch operator) — so the union of all
    batch outputs equals one batch run over the whole stream, and the
    batch operator's oracle checks the sink's verdict columns verbatim.
    Exactly-once through storage: a replayed micro-batch (same id, same
    offsets after a restart from the checkpoint) overwrites its own
    ``batch_id`` directory with the same rows and touches no other batch.

    At 100 TB: ``corpus_buckets`` is the bucket-partitioned index
    materialized once per corpus wave (``minhash_buckets``) — the stream
    side is trigger-sized, so the bucket equi-join broadcasts the BATCH
    under AQE and the corpus index is read partition-pruned; per-trigger
    cost is O(batch) + candidates, independent of corpus size.
    """
    from ..operators.dedup import incremental_dedup, minhash_buckets

    if corpus_buckets is None:
        corpus_buckets = minhash_buckets(corpus_df, id_col, text_col, n, bands)

    def batch_fn(batch_df: DataFrame, batch_id: int):
        verdicts = incremental_dedup(
            batch_df, corpus_df, id_col=id_col, text_col=text_col,
            n=n, bands=bands, threshold=threshold, max_bucket=max_bucket,
            corpus_buckets=corpus_buckets,
        )
        verdicts.write.mode('overwrite').parquet(f'{output_dir}/batch_id={batch_id}')

    return write_stream_available_now(docs_stream, checkpoint_dir, batch_fn)


def stream_materialize(
    triples_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    bucket_key: str = 'subject',
):
    """The full streaming-ELT north-star path: drain the triple stream
    AvailableNow through ``plans.lineage.append_triples`` — one WAVE per
    micro-batch, batch-id = wave-id, committed by an atomic wave marker.

    Exactly-once end to end: Structured Streaming's checkpoint replays a
    failed batch with the same id; ``append_triples`` is
    replay-idempotent (committed wave → no-op; half-written wave →
    dynamic-overwritten in place), so the materialized table contains
    each input row exactly once no matter where a crash lands.  Readers
    go through the wave markers (``read_appended``, filtered on ``wave``
    for one batch) and never see uncommitted files.
    """
    from ..plans.lineage import append_triples

    def batch_fn(batch_df: DataFrame, batch_id: int):
        append_triples(
            batch_df, output_dir, n_buckets=n_buckets, wave=int(batch_id),
            bucket_key=bucket_key,
        )

    return write_stream_available_now(triples_stream, checkpoint_dir, batch_fn)
