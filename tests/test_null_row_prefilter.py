"""The horizontal entry's null-row prefilter is sound.

A branch whose NA drop removes every long row of a source row with all
its columns null skips such rows before the melt (operators/horizontal.py),
unless the branch's Expand adds a literal dgraph.type row or the
dgraph.type subjects come from the long frames (csv_edges /
ignore_fields).  Every case below holds an all-null row and rows null in
one branch only; the horizontal triples must equal the vertical entry's
over the same rows unpivoted, which filters nothing before its NA drop
(as sets: with ``assume_unique_subjects`` the vertical entry emits one
dgraph.type row per long row).
"""
from __future__ import annotations

import copy

import pytest

from tests.conftest import triples_set

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


@pytest.mark.parametrize('name', sorted(CASES))
def test_prefiltered_branches_match_the_vertical_entry(spark, name):
    from tools.capture_goldens import long_frame

    from dgraphpandas_spark import horizontal_transform, vertical_transform

    config, kwargs = CASES[name]
    wide = spark.createDataFrame(ROWS, SCHEMA)
    h_intrinsic, h_edges = horizontal_transform(wide, copy.deepcopy(config), 'row', **kwargs)
    long = long_frame(spark, SCHEMA, ROWS, ['id'])
    v_intrinsic, v_edges = vertical_transform(long, copy.deepcopy(config), 'row', **kwargs)
    assert triples_set(h_intrinsic) == triples_set(v_intrinsic)
    assert triples_set(h_edges) == triples_set(v_edges)
