"""Branch fate of each source column (operators/melt.py: branch_fates,
resolve_edge_fields): the one place the horizontal entry applies the
vertical chain's pre_rename (C5) → ignore_fields (P1) → edge_fields (R4)
order, for its per-branch melt and for the scrub-downcast rule.
Spark-free."""
from __future__ import annotations

from types import SimpleNamespace

import pytest

from dgraphpandas_spark.operators.horizontal import horizontal_transform
from dgraphpandas_spark.operators.melt import (
    EDGE,
    INTRINSIC,
    branch_fates,
    downcast_forced_columns,
    resolve_edge_fields,
)

COLS = ['name', 'age', 'loc_id', 'store_id']


def test_pre_rename_moves_a_column_into_edges():
    fates = branch_fates(COLS, {'name': 'owner_id'}, [], ['owner_id'])
    assert fates == {'name': EDGE, 'age': INTRINSIC, 'loc_id': INTRINSIC, 'store_id': INTRINSIC}


def test_pre_rename_moves_a_column_out_of_edges():
    fates = branch_fates(COLS, {'loc_id': 'place'}, [], ['loc_id', 'store_id'])
    assert fates['loc_id'] == INTRINSIC
    assert fates['store_id'] == EDGE


def test_ignore_applies_to_renamed_name_and_beats_edges():
    fates = branch_fates(COLS, {'age': 'years'}, ['years', 'loc_id'], ['loc_id'])
    assert fates == {'name': INTRINSIC, 'age': None, 'loc_id': None, 'store_id': INTRINSIC}


def test_edge_id_convention_uses_original_names():
    # C12 acts on the melted predicates before the rename: a column renamed
    # away from '_id' stays an edge name (so it leaves the edges), and one
    # renamed to '_id' does not become an edge
    edges = resolve_edge_fields(['ignored'], True, COLS)
    assert edges == ['loc_id', 'store_id']
    fates = branch_fates(COLS, {'store_id': 'shop', 'name': 'owner_id'}, [], edges)
    assert fates == {'name': INTRINSIC, 'age': INTRINSIC, 'loc_id': EDGE, 'store_id': INTRINSIC}


def test_callable_edge_fields_resolve_against_the_frame():
    frame = SimpleNamespace(columns=['id'] + COLS)
    edges = resolve_edge_fields(lambda f: [c for c in f.columns if c.startswith('s')], False, COLS, frame)
    assert edges == ['store_id']
    assert branch_fates(COLS, {}, [], edges)['store_id'] == EDGE
    assert resolve_edge_fields(lambda f: None, False, COLS, frame) == []


def test_downcast_follows_the_fates():
    # int+float survive in the edge branch only once 's' is renamed out of it
    dtypes = {'a': _t('long'), 'b': _t('double'), 's': _t('string')}
    fates = branch_fates(['a', 'b', 's'], {'s': 'note'}, [], ['a', 'b', 's'])
    assert downcast_forced_columns(dtypes, ['a', 'b', 's'], [], fates, True) == {'a'}
    fates = branch_fates(['a', 'b', 's'], {}, [], ['a', 'b', 's'])
    assert downcast_forced_columns(dtypes, ['a', 'b', 's'], [], fates, True) == set()


def _t(name):
    from pyspark.sql import types as T

    return {'long': T.LongType(), 'double': T.DoubleType(), 'string': T.StringType()}[name]


@pytest.mark.parametrize('where', ['config', 'kwargs'])
def test_removed_melt_strategy_fails_loudly(where):
    config = {'files': {'t': {'subject_fields': ['id']}}}
    kwargs = {}
    if where == 'config':
        config['melt_strategy'] = 'arrow'
    else:
        kwargs['melt_strategy'] = 'arrow'
    with pytest.raises(ValueError, match='melt_strategy was removed'):
        horizontal_transform(object(), config, 't', **kwargs)
