"""Materialization + per-partition lineage + idempotent resume
(north_star additions; the reference's closest analogue is the chunked-file
loop at /root/reference/dgraphpandas/rdf.py:77-80 — batch incremental,
SURVEY §2.9/§4).

Layout under ``output_dir``:

    data/conv_bucket=NN/part-*.parquet   triple rows for one bucket
    manifest/bucket=NN.json              committed lineage row per bucket

(read it back with ``spark.read.parquet(<output_dir>/data)``; a filter on
``conv_bucket`` prunes partitions at the source).  The append mode below
keeps the same layout one level down, ``data/wave=W/conv_bucket=NN/``,
committed by ``manifest/wave=W.json``.

A bucket's manifest row is written only after its data is fully on disk and
re-read (read-back verification), so the manifest IS the commit marker.
Resume = process only buckets without a manifest row; dynamic partition
overwrite makes a re-run of a half-written bucket byte-identical (the
pipeline is deterministic end-to-end: hash-derived salts, no Date.now/rand).

Buckets come from ``sources/table_format.with_bucket``,
``pmod(xxhash64(bucket_key), n_buckets)`` — the same
Iceberg-style ``bucket(N, conv_id)`` layout, Parquet-backed because this
sandbox has no Iceberg runtime jars (BASELINE.md); swap the writer for an
Iceberg table when the runtime is present.
"""
from __future__ import annotations

import json
import os
import time
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.table_format import BUCKET_COL, with_bucket


def _markers(output_dir: str, prefix: str) -> List[int]:
    """Sorted ids N of the ``manifest/<prefix>N.json`` commit markers."""
    mdir = os.path.join(output_dir, 'manifest')
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(name[len(prefix):-len('.json')])
        for name in os.listdir(mdir)
        if name.startswith(prefix) and name.endswith('.json')
    )


def _write_marker(path: str, row: dict) -> None:
    """Commit one marker: write ``path.tmp`` then ``os.replace`` it, so a
    reader sees the whole JSON row or no file at all."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + '.tmp'
    with open(tmp, 'w') as f:
        json.dump(row, f)
    os.replace(tmp, path)


def committed_buckets(output_dir: str) -> List[int]:
    return _markers(output_dir, 'bucket=')


def load_manifest(output_dir: str) -> Dict[int, dict]:
    mdir = os.path.join(output_dir, 'manifest')
    rows: Dict[int, dict] = {}
    for b in committed_buckets(output_dir):
        with open(os.path.join(mdir, f'bucket={b}.json')) as f:
            rows[b] = json.load(f)
    return rows


def _write_buckets(frame: DataFrame, data_dir: str, partition_cols: List[str]) -> int:
    """The one write step of both materializers: dynamic partition
    overwrite, so only the partitions ``frame`` holds are replaced and a
    re-run of a half-written one is never doubled.  Returns the row count
    observed on the write action (free, no second pass)."""
    frame.sparkSession.conf.set('spark.sql.sources.partitionOverwriteMode', 'dynamic')
    obs = Observation()
    (
        # hash-repartition on the bucket column BEFORE partitionBy:
        # without it every task writes a file into every bucket dir
        # (tasks × buckets small files — fatal at scale); with it each
        # bucket is written by exactly one task → one file per bucket,
        # and n_buckets (not task count) is the file-count knob
        frame.observe(obs, F.count(F.lit(1)).alias('rows'))
        .repartition(F.col(BUCKET_COL))
        .write.mode('overwrite')
        .partitionBy(*partition_cols)
        .parquet(data_dir)
    )
    return int(obs.get['rows'])


def materialize_triples(
    triples: DataFrame,
    output_dir: str,
    n_buckets: int = 64,
    bucket_key: str = 'subject',
    stage: str = 'triples',
    waves: int = 1,
    fail_after_wave: Optional[int] = None,
    verify: bool = True,
) -> Dict[int, dict]:
    """Write the triple frame partitioned by conv bucket, committing a
    lineage manifest row per bucket; resumes idempotently.

    ``waves`` splits pending buckets into groups committed independently
    (checkpoint granularity); ``fail_after_wave`` is a test hook simulating
    a mid-run crash.  Returns the full manifest after this run.

    ``verify=True`` re-reads every written bucket once to derive the
    manifest's rows/checksum from the files as persisted (integrity over
    speed).  At the 100-TB scale that read-back is a full extra pass over
    the output; ``verify=False`` skips it and commits manifest rows with
    ``verified: false`` and total (not per-bucket) row counts observed for
    free on the write action — the commit-marker/resume contract is
    unchanged.  Cost model: PLANS.md §6.
    """
    spark = triples.sparkSession
    done = set(committed_buckets(output_dir))
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return load_manifest(output_dir)

    data_dir = os.path.join(output_dir, 'data')
    bucketed = with_bucket(triples, n_buckets, bucket_key)
    wave_size = max(1, (len(pending) + waves - 1) // waves)

    for w in range(0, len(pending), wave_size):
        wave_t0 = time.time()
        wave_buckets = pending[w:w + wave_size]
        wave_rows = _write_buckets(
            bucketed.filter(F.col(BUCKET_COL).isin(wave_buckets)), data_dir, [BUCKET_COL]
        )
        stats_by_bucket = {}
        if verify:
            # read-back verification: lineage metrics come from the files as
            # written, not from the in-flight computation
            written = spark.read.parquet(data_dir).filter(F.col(BUCKET_COL).isin(wave_buckets))
            stats = (
                written.groupBy(BUCKET_COL)
                .agg(
                    F.count('*').alias('rows'),
                    # XOR fold: order-independent, overflow-free (ANSI-safe)
                    F.bit_xor(F.xxhash64('subject', 'predicate', 'object')).alias('checksum'),
                )
                .collect()
            )
            stats_by_bucket = {r[BUCKET_COL]: r for r in stats}
        wave_ms = int((time.time() - wave_t0) * 1000)
        for b in wave_buckets:  # empty buckets commit too (rows=0)
            r = stats_by_bucket.get(b)
            _write_marker(os.path.join(output_dir, 'manifest', f'bucket={b}.json'), {
                'stage': stage,
                'bucket': b,
                'rows': int(r['rows']) if r else (None if not verify else 0),
                'checksum': int(r['checksum']) if r and r['checksum'] is not None else (None if not verify else 0),
                'status': 'committed',
                'verified': bool(verify),
                # metrics (north_rule: per-partition lineage + metrics):
                # this run's wave that committed the bucket, its wall time
                # and its total row count observed on the write action
                'wave': w // wave_size,
                'wave_ms': wave_ms,
                'wave_rows': wave_rows,
            })
        if fail_after_wave is not None and (w // wave_size) + 1 >= fail_after_wave:
            raise RuntimeError(f'simulated failure after wave {fail_after_wave}')

    return load_manifest(output_dir)


# ---------------------------------------------------------------- append mode
# (streaming micro-batches: one WAVE per batch, idempotent under replays)


def _append_manifest_path(output_dir: str, wave: int) -> str:
    return os.path.join(output_dir, 'manifest', f'wave={wave}.json')


def appended_waves(output_dir: str) -> List[int]:
    return _markers(output_dir, 'wave=')


def append_triples(
    triples: DataFrame,
    output_dir: str,
    n_buckets: int = 64,
    wave: int = 0,
    bucket_key: str = 'subject',
) -> dict:
    """Append-mode materialization for STREAMING micro-batches: each batch
    is one ``wave``, written under ``data/wave=<w>/conv_bucket=<b>/`` and
    committed by ONE atomic wave marker (``manifest/wave=<w>.json``,
    os.replace).  The batch-level exactly-once contract foreachBatch
    needs:

    - **replay-idempotent**: Structured Streaming re-runs a failed batch
      with the SAME batch id.  A replay first checks the wave marker (→
      no-op if committed), else DYNAMIC-OVERWRITES only its own
      ``wave=<w>`` partition directories — a half-written first attempt
      is replaced, never doubled, and no other wave's files are touched.
    - **all-or-nothing visibility**: ``read_appended`` takes the
      committed-wave list from the markers, so uncommitted data files are
      invisible.

    The batch-mode sibling (`materialize_triples`) is for full-frame jobs
    (bucket-level resume over ONE dataset); this is for accumulating
    deltas — the wave is the checkpoint unit, not the bucket.  Returns
    the wave's manifest entry.

    Scale shape: one ``repartition(bucket)`` shuffle per batch (avoids
    per-task small files, same as the batch path), row count observed on
    the write action for free.  Partition layout stays prunable on BOTH
    wave and bucket (key-routed reads).
    """
    marker = _append_manifest_path(output_dir, wave)
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)

    t0 = time.time()
    rows = _write_buckets(
        with_bucket(triples, n_buckets, bucket_key).withColumn('wave', F.lit(int(wave))),
        os.path.join(output_dir, 'data'),
        ['wave', BUCKET_COL],
    )
    row = {'wave': int(wave), 'rows': rows, 'ms': int((time.time() - t0) * 1000)}
    _write_marker(marker, row)
    return row


def _empty_append_frame(spark: SparkSession) -> DataFrame:
    """Schema-stable empty result for a store with no committed waves —
    reading before the first append is safe by design (marker-gated), so
    it must not surface the raw reader's path-not-found AnalysisException."""
    return spark.createDataFrame(
        [],
        f'subject string, predicate string, object string, type string, '
        f'wave int, {BUCKET_COL} int',
    )


def read_appended(spark: SparkSession, output_dir: str) -> DataFrame:
    """All COMMITTED waves (marker-gated — uncommitted files invisible).
    A store with no committed waves reads as an empty frame with the
    triple schema; committed waves WITHOUT a data dir raise (corruption —
    a partial delete or a wrong path — not emptiness)."""
    waves = appended_waves(output_dir)
    if not waves:
        return _empty_append_frame(spark)
    data_dir = os.path.join(output_dir, 'data')
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(
            f'append store at {output_dir!r} has {len(waves)} committed '
            f'wave marker(s) (e.g. wave {waves[0]}) but no data/ directory '
            f'— the store is corrupted or partially deleted'
        )
    return spark.read.parquet(data_dir).filter(F.col('wave').isin(waves))
