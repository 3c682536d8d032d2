"""Property-based differential fuzzing: Hypothesis generates small tables
and random config knobs; the same input runs through the reference
(pandas) and our engine, and the rendered N-Quad upsert lines must match as
multisets (intrinsic and edges separately).

This goes beyond the hand-picked matrix (test_differential_matrix.py): the
generator explores combinations the reference's own suite never pairs
(e.g. csv_edges × custom key_separator × ignore_fields × illegal chars).
"""
from __future__ import annotations

import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# deep-fuzz knob: HYPOTHESIS_MAX_EXAMPLES=200 python -m pytest ...
_EXAMPLES = int(os.environ.get('HYPOTHESIS_MAX_EXAMPLES', '25'))

# text alphabet deliberately includes the scrub characters, separators,
# and non-trivial Python whitespace (\t, NBSP — pandas .str.strip() strips
# them, Spark's trim does not; fuzz-found round 3)
_TEXT = st.text(
    alphabet='abxyz %."\n_,:123\t\xa0',
    min_size=0,
    max_size=12,
)

_ROWS = st.integers(min_value=1, max_value=6)


@st.composite
def table_and_config(draw):
    n = draw(_ROWS)
    data = {'id': list(range(1, n + 1))}
    # 1-3 extra columns of assorted types
    col_specs = draw(
        st.lists(
            st.sampled_from(['str', 'int', 'float', 'nullable_str', 'datetime']),
            min_size=1,
            max_size=3,
        )
    )
    names = ['name', 'score', 'loc_id', 'note'][: len(col_specs)]
    # ISO-ish strings parsed via date_fields on both engines (C2/C3);
    # explicit 'datetime64[ns]' override dodges the reference's pandas-2
    # bare-'datetime64' auto-override crash, and each COLUMN sticks to one
    # fractional style — pandas 2's strptime fallback raises on mixed
    # formats within a column (SURVEY §5 landmines)
    _DT_POOLS = [
        ['2026-01-01 10:00:00', '2026-03-05 07:08:09', '1999-12-31 23:59:59'],
        ['2026-01-02 23:59:59.123456', '1999-12-31 00:00:00.000001',
         '2026-03-05 07:08:09.500000'],
    ]
    dt_cols = []
    for cname, kind in zip(names, col_specs):
        if kind == 'str':
            data[cname] = [draw(_TEXT) for _ in range(n)]
        elif kind == 'int':
            data[cname] = [draw(st.integers(-1000, 1000)) for _ in range(n)]
        elif kind == 'float':
            data[cname] = [
                round(draw(st.floats(-100, 100, allow_nan=False, allow_infinity=False)), 3)
                for _ in range(n)
            ]
        elif kind == 'datetime':
            pool = draw(st.sampled_from(_DT_POOLS))
            # first value non-null (Spark type inference on the raw string col)
            data[cname] = [draw(st.sampled_from(pool))] + [
                draw(st.sampled_from(pool + [None])) for _ in range(n - 1)
            ]
            dt_cols.append(cname)
        else:
            # first value non-null so Spark can infer the column type
            data[cname] = [draw(_TEXT)] + [
                draw(st.one_of(st.none(), _TEXT)) for _ in range(n - 1)
            ]

    # datetime cols stay intrinsic-only: edge/ignore/csv interplay with
    # datetimes trips pandas-2 reference warts rather than real semantics
    candidates = [c for c in names if c != 'id' and c not in dt_cols]
    edge_fields = draw(st.lists(st.sampled_from(candidates), max_size=1, unique=True)) if candidates else []
    ignore = [c for c in draw(st.lists(st.sampled_from(candidates), max_size=1, unique=True))
              if c not in edge_fields] if candidates else []

    file_config = {
        'subject_fields': ['id'],
        **({'edge_fields': edge_fields} if edge_fields else {}),
        **({'ignore_fields': ignore} if ignore else {}),
    }
    if dt_cols:
        file_config['date_fields'] = {c: {} for c in dt_cols}
        file_config['type_overrides'] = {c: 'datetime64[ns]' for c in dt_cols}

    # csv_edges on a string column: comma-packed objects explode into edges
    str_cols = [c for c, k in zip(names, col_specs) if k == 'str' and c not in ignore]
    if str_cols and draw(st.booleans()):
        file_config['csv_edges'] = [str_cols[0]]

    # type_overrides on an int column (lexical form '7' not '7.0')
    int_cols = [c for c, k in zip(names, col_specs) if k == 'int']
    if int_cols and draw(st.booleans()):
        file_config.setdefault('type_overrides', {})[int_cols[0]] = 'int32'

    # pre_rename of one non-subject column
    if candidates and draw(st.booleans()):
        file_config['pre_rename'] = {candidates[0]: 'renamed'}

    # override_edge_name is deliberately NOT fuzzed: the reference applies
    # it via an in-place row mutation from a DISCARDED apply() return
    # (vertical_helpers.py:234-245, vertical.py:110), which under pandas ≥ 2
    # silently no-ops for some frame shapes (fuzzer-discovered: a 1-row
    # uniform-dtype edges frame leaves BOTH the override and the default
    # qualification unapplied).  The intended behavior is pinned by the
    # matrix test (override_edge_name case); see SURVEY §5 landmines.

    config = {
        'files': {'row': file_config},
        # '.' is itself an illegal-character-scrub target: the separator
        # gets scrubbed back out of subjects — both engines must agree
        'key_separator': draw(st.sampled_from(['_', '::', '.'])),
        'add_dgraph_type_records': draw(st.booleans()),
        'strip_id_from_edge_names': draw(st.booleans()),
    }
    return pd.DataFrame(data), config


def _ref_lines(pdf, config):
    from dgraphpandas.strategies.horizontal import horizontal_transform as ref_ht
    from dgraphpandas.writers.upserts import generate_upserts as ref_gu

    intrinsic, edges = ref_ht(pdf.copy(deep=True), config, 'row')
    il, el = ref_gu(intrinsic, edges)
    return sorted(il), sorted(el)


def _our_lines(spark, pdf, config):
    from dgraphpandas_spark.operators.horizontal import horizontal_transform
    from dgraphpandas_spark.writers.upserts import generate_upserts

    sdf = spark.createDataFrame(pdf)
    intrinsic, edges = horizontal_transform(sdf, config, 'row')
    il, el = generate_upserts(intrinsic, edges)
    return (
        sorted(r['line'] for r in il.collect()),
        sorted(r['line'] for r in el.collect()),
    )


@pytest.mark.usefixtures('spark')
@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(tc=table_and_config())
def test_random_tables_match_reference(spark, tc):
    pdf, config = tc
    ref_i, ref_e = _ref_lines(pdf, config)
    our_i, our_e = _our_lines(spark, pdf, config)
    assert our_i == ref_i
    assert our_e == ref_e


# Pinned falsifying cases for the scrub-downcast parity rule
# (melt.downcast_forced_columns): the reference's Series.replace scrub
# silently downcasts an all-numeric object column to float64 after the
# ignore/edge-split filters, so ints render '0.0'.  Found by the fuzzer
# (round-1 VERDICT "What's wrong" #1); decided statically at plan time now.
_DOWNCAST_CASES = [
    # (data, file_config, global_config_overrides, id)
    (  # VERDICT falsifier: str column ignored, no dgraph.type → downcast
        {'id': [1], 'name': [0], 'score': [0.5], 'loc_id': ['x']},
        {'subject_fields': ['id'], 'ignore_fields': ['loc_id']},
        {'add_dgraph_type_records': False},
        'ignored-str-no-type',
    ),
    (  # dgraph.type string rows block the intrinsic downcast
        {'id': [1], 'name': [0], 'score': [0.5], 'loc_id': ['x']},
        {'subject_fields': ['id'], 'ignore_fields': ['loc_id']},
        {'add_dgraph_type_records': True},
        'blocked-by-dgraph-type',
    ),
    (  # edge branch downcast: int+float edges, str keeps intrinsic object
        {'id': [1, 2], 'a': [7, 8], 'b': [0.5, 1.5], 's': ['x', 'y']},
        {'subject_fields': ['id'], 'edge_fields': ['a', 'b']},
        {'add_dgraph_type_records': True},
        'edge-branch-downcast',
    ),
    (  # a bool in the surviving mix keeps object dtype → no downcast
        {'id': [1], 'x': [0], 'y': [0.5], 'z': [True], 's': ['q']},
        {'subject_fields': ['id'], 'ignore_fields': ['s']},
        {'add_dgraph_type_records': False},
        'blocked-by-bool',
    ),
    (  # str routed to edges → intrinsic is int+float → downcast
        {'id': [1], 'a': [3], 'b': [2.5], 's': ['x']},
        {'subject_fields': ['id'], 'edge_fields': ['s']},
        {'add_dgraph_type_records': False},
        'str-routed-to-edges',
    ),
]


@pytest.mark.parametrize(
    'data,file_config,overrides,_id',
    _DOWNCAST_CASES,
    ids=[c[3] for c in _DOWNCAST_CASES],
)
def test_scrub_downcast_parity(spark, data, file_config, overrides, _id):
    pdf = pd.DataFrame(data)
    config = {'files': {'row': dict(file_config)}, **overrides}
    ref_i, ref_e = _ref_lines(pdf, config)
    our_i, our_e = _our_lines(spark, pdf, config)
    assert our_i == ref_i
    assert our_e == ref_e


@pytest.mark.usefixtures('spark')
@settings(
    max_examples=max(15, _EXAMPLES * 3 // 5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(tc=table_and_config())
def test_vertical_entry_matches_reference(spark, tc):
    """Same fuzzed inputs through the VERTICAL entry: pre-melt the table to
    (id, attr, val) EAV form and run both vertical_transforms with custom
    predicate/object field names."""
    pdf, config = tc
    file_cfg = config['files']['row']
    melted = pdf.melt(id_vars=['id'], var_name='attr', value_name='val')
    # the vertical entry's contract is a STRING EAV object column; feed the
    # SAME stringified values to both engines.  (Raw mixed-dtype objects
    # would exercise another reference dtype quirk instead: its scrub
    # silently skips non-string values, so a float 0.0 edge object keeps
    # its '.' while a string '0.0' loses it.)
    melted['val'] = melted['val'].map(lambda v: str(v) if pd.notna(v) else None)
    # drop csv_edges/type_overrides interplay (horizontal-only semantics)
    file_cfg.pop('type_overrides', None)
    file_cfg['predicate_field'] = 'attr'
    file_cfg['object_field'] = 'val'
    vconfig = {**config, 'transform': 'vertical'}

    from dgraphpandas.strategies.vertical import vertical_transform as ref_vt
    from dgraphpandas.writers.upserts import generate_upserts as ref_gu

    ref_i, ref_e = ref_vt(melted.copy(deep=True), vconfig, 'row')
    ril, rel = ref_gu(ref_i, ref_e)

    from dgraphpandas_spark.operators.vertical import vertical_transform
    from dgraphpandas_spark.writers.upserts import generate_upserts

    sdf = spark.createDataFrame(melted, 'id long, attr string, val string')
    intrinsic, edges = vertical_transform(sdf, vconfig, 'row')
    il, el = generate_upserts(intrinsic, edges)

    assert sorted(r['line'] for r in il.collect()) == sorted(ril)
    assert sorted(r['line'] for r in el.collect()) == sorted(rel)
