"""Capture reference-free goldens for the horizontal and vertical entries.

Each case pushes a small, explicitly typed wide frame through
``horizontal_transform`` and records, per output branch, the
order-independent checksum ``(count, bit_xor(xxhash64(subject, predicate,
object, type)))``.  The cases cover the option surface whose per-column
branch fate and scrub gating the horizontal melt resolves at plan time:
pre_rename into and out of ``edge_fields``, ``ignore_fields``,
``csv_edges`` whose separator and whitespace overlap the scrub characters,
``edge_id_convention``, callable ``edge_fields``/``dgraph_type``,
``strip_id_from_edge_names``, empty and custom character lists,
``add_dgraph_type_records``, ``assume_unique_subjects``, an illegal
character inside ``dgraph_type``, and mixed-dtype frames whose branches'
own dtype classes differ from the whole frame's.

The vertical cases (``VERTICAL_CASES``) push the same option surface
through ``vertical_transform``: every case above except the callable one,
with its wide frame unpivoted to a long ``(key..., predicate, object)``
frame whose object column is the value columns cast to string, plus
long frames with a double, a float and a timestamp object column and one
for ``edge_id_convention``.

``tests/test_golden_matrix.py`` recomputes every checksum and compares it
with ``tests/golden/horizontal_matrix.json`` and
``tests/golden/vertical_matrix.json``.  Capture writes nothing when any
case emits more dgraph.type rows than distinct subjects.

Usage: python tools/capture_goldens.py [horizontal|vertical ...]
       (default: both, each to its file under tests/golden/)
"""
from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone
from typing import Any, Dict, List, Tuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

GOLDEN_PATH = os.path.join(REPO, 'tests', 'golden', 'horizontal_matrix.json')
VERTICAL_GOLDEN_PATH = os.path.join(REPO, 'tests', 'golden', 'vertical_matrix.json')

TRANSCRIPT_SCHEMA = 'conv_id string, turn_idx int, role string, text string, tool string, ts string'
TRANSCRIPT_ROWS = [
    ('c1', 0, 'user', 'hello world', None, '2026-01-01T10:00:00'),
    ('c1', 1, 'assistant', 'hi "there"\n100% sure.', 'web search', '2026-01-01T10:00:05'),
    ('c.2', 0, 'user', None, 'calc_id', '2026-01-02T09:00:00'),
    ('c 3', 2, 'tool', 'a\r\nb', 'web.search', None),
]
TRANSCRIPT_FILE = {
    'subject_fields': ['conv_id', 'turn_idx'],
    'edge_fields': ['tool'],
    'type_overrides': {'turn_idx': 'int32', 'ts': 'datetime64[ns]'},
    'date_fields': {'ts': {'format': '%Y-%m-%dT%H:%M:%S'}},
}

CUSTOMER_SCHEMA = 'customer_id long, name string, age long, weight double, location_id string, store_id long'
CUSTOMER_ROWS = [
    (1, 'Ann "A." Lee', 23, 90.5, 'loc 1.x', 7),
    (2, 'bo%b\nsmith', 31, None, 'loc%2', None),
    (3, None, None, 60.0, None, 9),
    (4, 'x\xa0y', 40, 1e17, 'loc\t4', 10),
]


def _cfg(file_config: Dict[str, Any], **top) -> Dict[str, Any]:
    cfg: Dict[str, Any] = {'files': {'customer': dict(file_config)}}
    cfg.update(top)
    return cfg


def _tcfg(**top) -> Dict[str, Any]:
    cfg: Dict[str, Any] = {'transform': 'horizontal', 'files': {'turn': dict(TRANSCRIPT_FILE)}}
    cfg.update(top)
    return cfg


# (name, schema, rows, config, config_file_key, horizontal_transform kwargs)
CASES: List[Tuple[str, str, list, Dict[str, Any], str, Dict[str, Any]]] = [
    ('transcripts', TRANSCRIPT_SCHEMA, TRANSCRIPT_ROWS, _tcfg(), 'turn', {}),
    ('transcripts_unique_subjects', TRANSCRIPT_SCHEMA, TRANSCRIPT_ROWS, _tcfg(), 'turn',
     {'assume_unique_subjects': True}),
    ('non_unique_subjects', TRANSCRIPT_SCHEMA, TRANSCRIPT_ROWS + TRANSCRIPT_ROWS[:2],
     _tcfg(assume_unique_subjects=False), 'turn', {}),
    ('no_dgraph_type_records', TRANSCRIPT_SCHEMA, TRANSCRIPT_ROWS,
     _tcfg(add_dgraph_type_records=False), 'turn', {'assume_unique_subjects': True}),
    ('dgraph_type_illegal_char', TRANSCRIPT_SCHEMA, TRANSCRIPT_ROWS,
     _tcfg(), 'turn', {'assume_unique_subjects': True, 'dgraph_type': 'chat turn."v2"%'}),
    ('dgraph_type_illegal_char_distinct', TRANSCRIPT_SCHEMA, TRANSCRIPT_ROWS,
     _tcfg(), 'turn', {'dgraph_type': 'chat turn."v2"%'}),
    ('callable_edge_fields_and_dgraph_type', TRANSCRIPT_SCHEMA, TRANSCRIPT_ROWS,
     _tcfg(), 'turn',
     {'assume_unique_subjects': True, 'edge_fields': lambda f: ['tool', 'role'],
      'dgraph_type': lambda f: 'utterance'}),
    ('defaults', CUSTOMER_SCHEMA, CUSTOMER_ROWS, _cfg({'subject_fields': ['customer_id']}), 'customer', {}),
    ('edges_and_id_strip', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['location_id', 'store_id']}), 'customer', {}),
    ('strip_id_disabled', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['location_id', 'store_id']},
          strip_id_from_edge_names=False), 'customer', {}),
    ('pre_rename_into_edges', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['owner_id', 'weight'],
           'pre_rename': {'name': 'owner_id', 'age': 'years'}}), 'customer',
     {'assume_unique_subjects': True}),
    ('pre_rename_out_of_edges', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['location_id', 'store_id'],
           'pre_rename': {'location_id': 'place'}}), 'customer', {}),
    ('pre_rename_collides_with_string_column', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'pre_rename': {'name': 'weight'}},
          add_dgraph_type_records=False), 'customer', {}),
    ('ignore_fields', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['location_id'],
           'ignore_fields': ['name', 'renamed_age'], 'pre_rename': {'age': 'renamed_age'}}),
     'customer', {'assume_unique_subjects': True}),
    ('edge_id_convention', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_id_convention': True,
           'pre_rename': {'store_id': 'shop', 'name': 'owner_id'}}), 'customer', {}),
    ('edge_stripped_name_collision', 'id long, loc_id string, loc double, note string',
     [(1, 'a.b', 1.5, 'n.1'), (2, 'c d', 2.25, None), (3, None, None, 'x')],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['loc_id', 'loc']}), 'customer', {}),
    ('null_edge_objects_kept', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['location_id', 'store_id']},
          drop_na_edge_objects=False, drop_na_intrinsic_objects=False), 'customer', {}),
    ('override_edge_name', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['location_id', 'store_id'],
           'override_edge_name': {'location': {'predicate': 'lives_in', 'target_node_type': 'place'}}}),
     'customer', {}),
    ('illegal_characters_empty', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id', 'name'], 'edge_fields': ['location_id']},
          illegal_characters=[], illegal_characters_intrinsic_object=[]), 'customer',
     {'assume_unique_subjects': True}),
    ('illegal_characters_custom', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['location_id']},
          illegal_characters=['o', '\\d'], illegal_characters_intrinsic_object=['A', 'b']),
     'customer', {}),
    ('dgraph_type_rows_as_edges', CUSTOMER_SCHEMA, CUSTOMER_ROWS,
     _cfg({'subject_fields': ['customer_id'], 'edge_fields': ['dgraph.type', 'location_id'],
           'dgraph_type': 'cu.st omer'}), 'customer', {'assume_unique_subjects': True}),
    ('csv_edges_scrub_overlap', 'id long, tags string, labels string, n long',
     [(1, 'a b. c\t.%d"e', 'x.y . z', 1), (2, ' q\xa0.\n', None, 2), (3, None, '..', None)],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['tags'], 'csv_edges': ['tags', 'labels'],
           'csv_edges_seperator': '.'}), 'customer', {}),
    ('csv_edges_space_separator', 'id long, tags string, note string',
     [(1, 'a%b c.d  e', 'k'), (2, 'solo', None), (3, '\t', 'm n')],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['tags'], 'csv_edges': ['tags'],
           'csv_edges_seperator': ' '}), 'customer', {'assume_unique_subjects': True}),
    ('csv_edges_renamed_in', 'id long, raw string, n double',
     [(1, 'a,b', 0.5), (2, 'c', 1.0)],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['tags'], 'csv_edges': ['tags'],
           'pre_rename': {'raw': 'tags'}}), 'customer', {}),
    ('mixed_edge_branch_int_float', 'id long, a long, b double, s string, flag boolean',
     [(1, 7, 0.5, 'x.y', True), (2, 8, 1.5, None, False), (3, None, 2.0, 'z', None)],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['a', 'b']}), 'customer', {}),
    ('mixed_intrinsic_downcast', 'id long, a long, b double, s string',
     [(1, 3, 2.5, 'x'), (2, 4, None, 'y%')],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['s']}, add_dgraph_type_records=False),
     'customer', {}),
    ('mixed_float_frame_int_branch', 'id long, n long, f double, g boolean',
     [(1, 23, 0.5, True), (2, 7, 1e7, False), (3, None, None, None)],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['f']}), 'customer',
     {'assume_unique_subjects': True}),
    ('int_bool_frame', 'id long, n int, flag boolean',
     [(1, 5, True), (2, None, False)],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['flag']}), 'customer', {}),
    ('pure_float32_frame', 'id long, x float, y float',
     [(1, 0.1, 3.25), (2, 1e20, None)],
     _cfg({'subject_fields': ['id'], 'edge_fields': ['y']}, add_dgraph_type_records=False),
     'customer', {}),
    ('pre_rename_date_field', 'id long, born string, note string',
     [(1, '2021-04-01', 'a.b'), (2, None, 'c')],
     _cfg({'subject_fields': ['id'], 'type_overrides': {'born': 'datetime64[ns]'},
           'date_fields': {'born': {'format': '%Y-%m-%d'}}, 'pre_rename': {'born': 'dob'}}),
     'customer', {}),
]


def _utc(*args) -> datetime:
    return datetime(*args, tzinfo=timezone.utc)


def _vcfg(**file_config) -> Dict[str, Any]:
    return {'transform': 'vertical', 'files': {'row': file_config}}


# Long frames for the vertical entry, (name, schema, rows, config,
# config_file_key, vertical_transform kwargs); the schema already has the
# ``predicate`` and ``object`` columns, so they are used as given.
VERTICAL_FRAMES: List[Tuple[str, str, list, Dict[str, Any], str, Dict[str, Any]]] = [
    ('double_objects', 'id long, predicate string, object double',
     [(1, 'weight', 0.1), (1, 'height', 1e7), (2, 'weight', 1e17), (2, 'height', 2.5e-7),
      (3, 'weight', -0.0), (3, 'height', 3.0), (4, 'weight', None), (4, 'loc_id', 123456.789),
      (5, 'height', 1e16), (5, 'weight', 12345678.5)],
     _vcfg(subject_fields=['id'], edge_fields=['loc_id']), 'row', {}),
    ('float_objects', 'id long, predicate string, object float',
     [(1, 'x', 0.1), (1, 'y', 3.25), (2, 'x', 1e20), (2, 'y', None), (3, 'x', 7.0)],
     _vcfg(subject_fields=['id'], edge_fields=['y']), 'row', {'assume_unique_subjects': True}),
    ('timestamp_objects', 'id long, predicate string, object timestamp',
     [(1, 'born', _utc(2021, 4, 1)), (1, 'seen', _utc(2021, 4, 1, 10, 30, 5)),
      (2, 'born', _utc(1999, 12, 31, 23, 59, 59)), (2, 'seen', None),
      (3, 'seen', _utc(2026, 1, 1, 0, 0, 0, 250000)), (3, 'other', _utc(2020, 2, 29, 12))],
     _vcfg(subject_fields=['id'], type_overrides={'born': 'datetime64[ns]'},
           date_fields={'seen': {'format': '%Y-%m-%d %H:%M:%S'}}), 'row', {}),
    ('edge_id_convention_long', 'id long, predicate string, object string',
     [(1, 'location_id', 'loc 1.x'), (1, 'name', 'Ann "A."'), (1, 'store_id', '7'),
      (2, 'location_id', None), (2, 'store_id', 's%2'), (3, 'name', 'bo\nb'), (3, 'note_idx', 'k')],
     _vcfg(subject_fields=['id'], edge_id_convention=True), 'row', {}),
]

# Every horizontal case but the callable one, unpivoted to a long frame,
# then the long frames above.
VERTICAL_CASES = [c for c in CASES if c[0] != 'callable_edge_fields_and_dgraph_type'] + VERTICAL_FRAMES


def branch_checksum(df) -> List[int]:
    """``[count, bit_xor(xxhash64(subject, predicate, object, type))]``."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias('n'),
        F.bit_xor(F.xxhash64('subject', 'predicate', 'object', 'type')).alias('ck'),
    ).collect()[0]
    return [int(r['n']), int(r['ck'] or 0)]


def checksums(frames) -> Dict[str, List[int]]:
    """Per-branch checksums of an ``(intrinsic, edges)`` pair."""
    intrinsic, edges = frames
    return {'intrinsic': branch_checksum(intrinsic), 'edges': branch_checksum(edges)}


def type_row_counts(frames) -> Tuple[int, int]:
    """``(dgraph.type rows, distinct subjects among them)`` over both
    branches of an ``(intrinsic, edges)`` pair; R3 emits one row per
    subject, so the two are equal."""
    from pyspark.sql import functions as F

    intrinsic, edges = frames
    r = (
        intrinsic.unionByName(edges)
        .filter(F.col('predicate') == 'dgraph.type')
        .agg(F.count(F.lit(1)).alias('n'), F.countDistinct('subject').alias('d'))
        .collect()[0]
    )
    return int(r['n']), int(r['d'])


def horizontal_output(spark, case):
    """The case's ``(intrinsic, edges)`` from ``horizontal_transform``."""
    import copy

    from dgraphpandas_spark import horizontal_transform

    _name, schema, rows, config, key, kwargs = case
    frame = spark.createDataFrame(rows, schema)
    return horizontal_transform(frame, copy.deepcopy(config), key, **kwargs)


def long_frame(spark, schema: str, rows: list, subject_fields: List[str]):
    """The case's frame in the vertical entry's long shape: used as given
    when it has ``predicate``/``object`` columns, else every non-key column
    unpivoted to ``(predicate, object)`` with the object cast to string."""
    from pyspark.sql import functions as F

    frame = spark.createDataFrame(rows, schema)
    if 'predicate' in frame.columns:
        return frame
    values = [c for c in frame.columns if c not in subject_fields]
    frame = frame.select(*subject_fields, *[F.col(c).cast('string').alias(c) for c in values])
    return frame.unpivot(subject_fields, values, 'predicate', 'object')


def vertical_output(spark, case):
    """The case's ``(intrinsic, edges)`` from ``vertical_transform``."""
    import copy

    from dgraphpandas_spark import vertical_transform

    _name, schema, rows, config, key, kwargs = case
    config = copy.deepcopy(config)
    frame = long_frame(spark, schema, rows, config['files'][key]['subject_fields'])
    return vertical_transform(frame, config, key, **kwargs)


ENTRIES = {
    'horizontal': (CASES, horizontal_output, GOLDEN_PATH),
    'vertical': (VERTICAL_CASES, vertical_output, VERTICAL_GOLDEN_PATH),
}


def capture(spark, entry: str) -> Dict[str, Dict[str, List[int]]]:
    """Every case's checksums; refuses (``ValueError``) a case whose
    output has more dgraph.type rows than distinct subjects, so no golden
    pins duplicate type triples."""
    cases, output, _path = ENTRIES[entry]
    captured = {}
    for case in cases:
        frames = output(spark, case)
        rows, subjects = type_row_counts(frames)
        if rows != subjects:
            raise ValueError(
                f'{entry} case {case[0]!r}: {rows} dgraph.type rows for {subjects} '
                f'subjects; refusing to write goldens that pin duplicate type triples'
            )
        captured[case[0]] = checksums(frames)
    return captured


def main(argv: List[str]) -> int:
    from dgraphpandas_spark.session import get_spark

    entries = argv[1:] or list(ENTRIES)
    spark = get_spark(app_name='capture-goldens', master='local[2]', shuffle_partitions=2)
    try:
        captured = {entry: capture(spark, entry) for entry in entries}
    finally:
        spark.stop()
    for entry, cases in captured.items():
        out = ENTRIES[entry][2]
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, 'w') as f:
            json.dump({'cases': cases}, f, indent=1, sort_keys=True)
            f.write('\n')
        print(f'{entry}: {len(cases)} cases -> {out}')
    return 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
