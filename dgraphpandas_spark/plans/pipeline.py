"""End-to-end RDF export pipeline (EP1/EP2 of the reference lifecycle).

Parity: /root/reference/dgraphpandas/rdf.py:16-145 (``_resolve_transform``,
``to_rdf``, ``to_rdf_from_frame``) and its sinks:

- S5 CSV sink (rdf.py:118-126)      → ``df.write.csv(header=True)``
- S6 gzip RDF sink (rdf.py:128-143) → ``df.write.option('compression',
  'gzip').text(...)`` — per-partition ``part-*.txt.gz`` files replace the
  reference's chunk-indexed ``_2,_3…`` files (S2: Spark's unit of work IS the
  partition, SURVEY §2.1)
- S9 console sink (rdf.py:104-106)  → ``df.show()``

``chunk_size`` maps to ``maxRecordsPerFile`` so output file sizing stays
user-controllable at any scale without a repartition shuffle.
"""
from __future__ import annotations

import logging
import os
from typing import Any, Dict, Tuple, Union

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import get_from_config, load_config
from ..operators.horizontal import horizontal_transform
from ..operators.vertical import vertical_transform
from ..sources.table_format import _read_source
from ..writers.upserts import generate_upserts


def resolve_transform(config: Dict[str, Any]):
    """Parity: rdf.py:16-34 — horizontal unless config says vertical."""
    if config is None:
        raise ValueError('config')
    if config.get('transform') == 'vertical':
        return vertical_transform
    return horizontal_transform


def _is_utf8(encoding: str) -> bool:
    return encoding.lower().replace('-', '').replace('_', '') == 'utf8'


def _canonical_charset(encoding: str) -> str:
    """Python codec alias ('latin-1') → the canonical charset name Spark's
    CSVOptions whitelist expects ('iso-8859-1')."""
    import codecs
    name = codecs.lookup(encoding).name
    return {
        'iso8859-1': 'iso-8859-1',
        'ascii': 'us-ascii',
        'utf-16-be': 'utf-16be',
        'utf-16-le': 'utf-16le',
    }.get(name, name)


def _set_gzip_level(spark: SparkSession, level: int) -> None:
    """Honor ``gz_compression_level`` (reference rdf.py:100, gzip.open
    compresslevel) through Hadoop's zlib conf.  Hadoop's CompressionLevel
    enum only has NO_COMPRESSION/BEST_SPEED/BEST_COMPRESSION/DEFAULT, so the
    int is mapped to the nearest; takes effect when the native zlib codec is
    loaded (the pure-java GZIPOutputStream fallback ignores it — documented
    in README)."""
    if level <= 0:
        name = 'NO_COMPRESSION' if level == 0 else 'DEFAULT_COMPRESSION'
    elif level <= 4:
        name = 'BEST_SPEED'
    else:
        name = 'BEST_COMPRESSION'
    # Unprefixed key: SessionState.newHadoopConf copies every runtime SQL
    # conf verbatim into the write job's Hadoop conf, so Hadoop's
    # ZlibFactory sees 'zlib.compress.level'.  (The 'spark.hadoop.' prefix
    # is only stripped at SparkContext startup — setting the prefixed key
    # at runtime is a no-op.)
    spark.conf.set('zlib.compress.level', name)


def _write_rdf_lines(lines: DataFrame, path: str, chunk_size: int, encoding: str) -> None:
    """S6 gzip RDF sink.  The text datasource writes UTF-8 only, so for any
    other charset (reference rdf.py:135 encodes each line) we route through
    the CSV writer — single column, quoting disabled, no header — which
    supports an ``encoding`` option and emits byte-identical lines."""
    writer = (
        lines.write.mode('overwrite')
        .option('compression', 'gzip')
        .option('maxRecordsPerFile', chunk_size)
    )
    if _is_utf8(encoding):
        writer.text(path)
    else:
        (
            writer.option('encoding', _canonical_charset(encoding))
            .option('header', False)
            # single column + a separator that cannot occur in an RDF line:
            # quoting never triggers, so lines round-trip byte-identical
            .option('sep', '\x01')
            .option('quote', '')
            .csv(path)
        )


def apply_reference_layout(output_dir: str, source_name: str) -> Dict[str, list]:
    """Rename Spark's ``<src>_intrinsic.gz/part-*.gz`` directory layout into
    the reference's chunk-indexed single files: first part becomes
    ``<src>_intrinsic.gz``, later parts ``<src>_intrinsic_2.gz``,
    ``_3.gz``, … (reference rdf.py:111-116), so downstream globs written
    for the reference keep working.

    Driver-side metadata-only renames (os.replace) — O(files), not O(data);
    on object stores without cheap rename, keep the directory layout and
    glob ``<dir>/part-*`` instead (README export notes).  Returns the final
    file list per frame.
    """
    import glob as _glob

    out: Dict[str, list] = {}
    for frame_kind in ('intrinsic', 'edges'):
        base = os.path.join(output_dir, f'{source_name}_{frame_kind}')
        spark_dir = base + '.gz'
        if not os.path.isdir(spark_dir):
            continue
        staging = base + '.gz.spark'
        os.replace(spark_dir, staging)  # free the target name
        parts = sorted(_glob.glob(os.path.join(staging, 'part-*.gz')))
        finals = []
        for i, part in enumerate(parts):
            target = base + ('.gz' if i == 0 else f'_{i + 1}.gz')
            os.replace(part, target)
            finals.append(target)
        if not parts:
            # An empty frame writes zero part files, but the reference
            # always emits one gz per frame (rdf.py:111-116) — downstream
            # globs expect it, so write an empty gzip member.
            import gzip as _gzip

            target = base + '.gz'
            with _gzip.open(target, 'wb'):
                pass
            finals.append(target)
        for leftover in _glob.glob(os.path.join(staging, '*')) + _glob.glob(
            os.path.join(staging, '.*')
        ):
            if os.path.isfile(leftover):
                os.remove(leftover)  # _SUCCESS / CRC markers
        os.rmdir(staging)
        out[frame_kind] = finals
    return out


def to_rdf(
    frame: Union[str, DataFrame],
    config: Union[Dict[str, Any], str],
    config_key: str,
    output_dir: Union[str, None] = None,
    **kwargs,
) -> Tuple[DataFrame, DataFrame]:
    """Transform a table (DataFrame or file path) into RDF upsert-line
    DataFrames, optionally exporting gzip N-Quads / debug CSVs.

    Returns ``(intrinsic_lines, edges_lines)`` — lazy DataFrames of
    ``line: string`` (the reference returns eager Python lists,
    rdf.py:145).
    """
    if frame is None:
        raise ValueError('frame')
    if not config:
        raise ValueError('config')
    if not config_key:
        raise ValueError('config_key')

    config = load_config(config)
    transform = resolve_transform(config)
    file_config = config['files'][config_key]

    source_name = config_key
    if isinstance(frame, str):
        source_name = os.path.basename(frame).split('.')[0]
        frame = _read_source(frame, file_config, **kwargs)

    console = get_from_config('console', config, False, **kwargs)
    export_csv = get_from_config('export_csv', file_config, False, **kwargs)
    export_rdf = get_from_config('export_rdf', file_config, False, **kwargs)
    chunk_size = get_from_config('chunk_size', config, 10_000_000, **kwargs)
    encoding = get_from_config('encoding', file_config, 'utf-8', **kwargs)
    # file_config scope, matching the reference (rdf.py:100 reads it from
    # the per-file entry, not the global config)
    gz_level = get_from_config('gz_compression_level', file_config, None, **kwargs)

    intrinsic, edges = transform(frame, config, config_key, **kwargs)
    if console:
        intrinsic.show(truncate=False)
        edges.show(truncate=False)

    intrinsic_lines, edges_lines = generate_upserts(intrinsic, edges)

    if output_dir is not None:
        intrinsic_base = os.path.join(output_dir, f'{source_name}_intrinsic')
        edges_base = os.path.join(output_dir, f'{source_name}_edges')

        if export_csv:
            (
                intrinsic.write.mode('overwrite').option('header', True)
                .option('encoding', _canonical_charset(encoding)).csv(intrinsic_base + '.csv')
            )
            (
                edges.write.mode('overwrite').option('header', True)
                .option('encoding', _canonical_charset(encoding)).csv(edges_base + '.csv')
            )

        if export_rdf:
            if gz_level is not None:
                _set_gzip_level(SparkSession.getActiveSession(), int(gz_level))
            # Piggyback row counts on the write via Observation — the counts
            # come free with the export action instead of re-executing the
            # whole lazy transform with .count() afterwards.
            obs_i, obs_e = Observation(), Observation()
            _write_rdf_lines(
                intrinsic_lines.observe(obs_i, F.count(F.lit(1)).alias('rows')),
                intrinsic_base + '.gz', chunk_size, encoding,
            )
            _write_rdf_lines(
                edges_lines.observe(obs_e, F.count(F.lit(1)).alias('rows')),
                edges_base + '.gz', chunk_size, encoding,
            )
            logging.getLogger(__name__).info(
                'exported intrinsic=%d edges=%d lines',
                obs_i.get['rows'], obs_e.get['rows'],
            )
            if get_from_config('reference_layout', config, False, **kwargs):
                apply_reference_layout(output_dir, source_name)

    return intrinsic_lines, edges_lines
