"""The horizontal entry's null-row prefilter is sound.

A branch whose NA drop removes every long row of a source row with all
its columns null skips such rows before the melt (operators/horizontal.py),
unless the branch's Expand adds a literal dgraph.type row; the dgraph.type
subjects come from the source rows, not from the filtered branches.
Every case below holds an all-null row and rows null in one branch only;
the horizontal triples must equal, row for row, the vertical entry's over
the same rows unpivoted, which filters nothing before its NA drop.
"""
from __future__ import annotations

import copy
from collections import Counter

import pytest

SCHEMA = 'id string, name string, note string, loc_id string, tags string'
ROWS = [
    ('1', 'a b', None, 'l1', 'x, y'),
    ('2', None, None, None, None),
    ('3', None, 'n"', None, ' , z'),
    ('4 .', None, None, 'l.4', None),
    ('5', 'e', 'f', None, None),
]


def _cfg(file_config, **top):
    cfg = {'files': {'row': {'subject_fields': ['id'], **file_config}}}
    cfg.update(top)
    return cfg


CASES = {
    'defaults_unique': (_cfg({'edge_fields': ['loc_id']}), {'assume_unique_subjects': True}),
    'defaults_distinct': (_cfg({'edge_fields': ['loc_id']}), {}),
    'keep_nulls': (
        _cfg({'edge_fields': ['loc_id']}, drop_na_intrinsic_objects=False, drop_na_edge_objects=False),
        {'assume_unique_subjects': True},
    ),
    'no_type_records': (_cfg({'edge_fields': ['loc_id']}, add_dgraph_type_records=False), {}),
    'ignore_fields': (
        _cfg({'edge_fields': ['loc_id'], 'ignore_fields': ['note']}), {'assume_unique_subjects': True},
    ),
    'csv_edges': (
        _cfg({'edge_fields': ['loc_id', 'tags'], 'csv_edges': ['tags']}), {'assume_unique_subjects': True},
    ),
    'type_rows_as_edges': (_cfg({'edge_fields': ['loc_id', 'dgraph.type']}), {'assume_unique_subjects': True}),
}
# every kept column a csv edge: a row keeps a long row only when its tags
# value is not null
ALL_CSV = _cfg({'edge_fields': ['tags'], 'csv_edges': ['tags'], 'ignore_fields': ['name', 'note', 'loc_id']})
CASES['all_csv_unique'] = (ALL_CSV, {'assume_unique_subjects': True})
CASES['all_csv_distinct'] = (ALL_CSV, {})


def _triples(df):
    return Counter(tuple(r) for r in df.select('subject', 'predicate', 'object', 'type').collect())


@pytest.mark.parametrize('name', sorted(CASES))
def test_prefiltered_branches_match_the_vertical_entry(spark, name):
    from tools.capture_goldens import long_frame

    from dgraphpandas_spark import horizontal_transform, vertical_transform

    config, kwargs = CASES[name]
    wide = spark.createDataFrame(ROWS, SCHEMA)
    h_intrinsic, h_edges = horizontal_transform(wide, copy.deepcopy(config), 'row', **kwargs)
    long = long_frame(spark, SCHEMA, ROWS, ['id'])
    v_intrinsic, v_edges = vertical_transform(long, copy.deepcopy(config), 'row', **kwargs)
    assert _triples(h_intrinsic) == _triples(v_intrinsic)
    assert _triples(h_edges) == _triples(v_edges)
