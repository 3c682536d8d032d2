"""Melt (unpivot) — the central operator (R1).

Reference: ``frame.melt(id_vars=subject_fields, var_name='predicate',
value_name='object')`` at /root/reference/dgraphpandas/strategies/horizontal.py:88-92.

Spark design: every source column's branch (intrinsic, edge, or ignored)
is fixed by the config alone (``branch_fates``), so the horizontal entry
decides it at plan time and melts each branch on its own.  Values are
rendered to their pandas-compatible lexical string form *per source
column* on the wide frame first (``render_columns``, functions/render.py);
then ``melt_branch`` emits one branch's long rows with a
``DataFrame.unpivot`` over that branch's columns only.  Each branch is one
scan + one Expand node: no union of per-column frames, no shuffle, fully
whole-stage-codegen'd, and the scan's ``ReadSchema`` holds only the key
columns plus the branch's own columns, so ignored columns are never read
and the edge branch never reads intrinsic text.

Row ordering differs from pandas melt (which is column-major); triple
comparison is set-based (SURVEY §2.7 W4).
"""
from __future__ import annotations

from typing import Callable, Dict, Iterable, List, Optional, Sequence, Set, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.render import render_value, stage_double_str

INTRINSIC = 'intrinsic'
EDGE = 'edge'


def _dtype_class(dtype: T.DataType, is_declared_dt: bool) -> str:
    if is_declared_dt or isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return 'dt'
    if isinstance(dtype, T.StringType):
        return 'str'
    if isinstance(dtype, T.BooleanType):
        return 'bool'
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return 'int'
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return 'float'
    return 'other'


def resolve_edge_fields(
    edge_fields: Union[Sequence[str], Callable, None],
    edge_id_convention: bool,
    value_vars: Sequence[str],
    frame: Optional[DataFrame] = None,
) -> List[str]:
    """The edge predicate list of the horizontal entry.

    C12 (``edge_id_convention``, reference vertical_helpers.py:299-305)
    acts on the melted predicates before pre_rename, i.e. on the original
    column names; a callable (C11) is resolved once, against the wide frame.
    """
    if edge_id_convention:
        return [c for c in value_vars if c.endswith('_id')]
    if callable(edge_fields):
        return list(edge_fields(frame) or [])
    return list(edge_fields or [])


def branch_fates(
    value_vars: Sequence[str],
    pre_rename: Optional[Dict[str, str]],
    ignore_fields: Iterable[str],
    edge_fields: Iterable[str],
) -> Dict[str, Optional[str]]:
    """Each source column's branch: ``INTRINSIC``, ``EDGE`` or ``None``
    (ignored, never melted).

    The vertical chain applies pre_rename (C5), then drops ignore_fields
    (P1), then splits on edge_fields (R4) — all three by the *renamed*
    predicate, so a rename can move a column into or out of either list.
    """
    pre_rename = pre_rename or {}
    ignore = set(ignore_fields or ())
    edges = set(edge_fields or ())
    fates: Dict[str, Optional[str]] = {}
    for c in value_vars:
        pred = pre_rename.get(c, c)
        fates[c] = None if pred in ignore else EDGE if pred in edges else INTRINSIC
    return fates


def downcast_forced_columns(
    dtypes: dict,
    value_vars: Sequence[str],
    datetime_columns: Iterable[str],
    fates: Dict[str, Optional[str]],
    add_dgraph_type_records: bool,
    scrub_intrinsic_object: bool = True,
    scrub_edge_object: bool = True,
) -> Set[str]:
    """Columns whose int values must render in float64 lexical form.

    Parity: the reference's illegal-char scrub
    (vertical_helpers.py:196 ``Series.replace``) runs over each branch's
    object column AFTER the ignore/edge-split filters; pandas silently
    downcasts an all-numeric object column to float64 when the surviving
    values are an int+float mix (no str/bool/datetime left), re-rendering
    ints as ``7.0``.  Verified empirically under pandas 2.2:
    ``[0, 0.5] → float64``, but any bool or str in the mix keeps object
    dtype and per-value ``str()`` forms.

    ``fates`` (``branch_fates``) fixes every column's branch at plan time,
    so the downcast is decided statically here (single-chunk semantics;
    the reference decides per chunk, so its output is
    chunk-boundary-dependent on such data — documented deviation).
    dgraph.type rows are string-valued and land in intrinsic, so
    ``add_dgraph_type_records`` blocks the intrinsic downcast.
    """
    dt_cols = set(datetime_columns)
    classes = {c: _dtype_class(dtypes[c], c in dt_cols) for c in value_vars}
    if set(classes.values()) <= {'int', 'float', 'bool'}:
        return set()  # float/intbool melt promotion modes already model this
    forced: Set[str] = set()
    for branch in (INTRINSIC, EDGE):
        if branch == INTRINSIC and (add_dgraph_type_records or not scrub_intrinsic_object):
            continue
        if branch == EDGE and not scrub_edge_object:
            continue
        fated = [c for c in value_vars if fates[c] == branch]
        branch_classes = {classes[c] for c in fated}
        if fated and branch_classes <= {'int', 'float'} and 'float' in branch_classes:
            forced |= {c for c in fated if classes[c] == 'int'}
    return forced


def render_columns(
    df: DataFrame,
    value_vars: Sequence[str],
    datetime_columns: Iterable[str] = (),
    force_double_cols: Iterable[str] = (),
) -> Tuple[DataFrame, Dict[str, Column], Set[str]]:
    """Render-at-melt: each value column's lexical string form.

    Returns ``(staged_df, rendered, string_source_cols)``: ``rendered``
    maps each value column to its string expression over ``staged_df``
    (``df`` plus the staged ``__pds_*`` float-repr attributes).

    ``datetime_columns`` are rendered ISO-8601 (reference C3); other
    timestamps render with ``str()`` semantics (space separator).
    ``string_source_cols`` feeds the illegal-character scrub gating: pandas'
    ``Series.replace(regex)`` only touches values that are *strings* in the
    original frame (reference vertical_helpers.py:196), so only predicates
    sourced from string columns get scrubbed downstream.

    Dtype promotion parity: pandas ``melt`` concatenates every value column
    into ONE Series, so the joint dtype changes lexical forms (verified
    empirically against pandas 2.2 concat):

    - all int/float/bool with ≥1 float → float64: ints render ``23.0``,
      bools ``1.0``, float32 widens to double;
    - int+bool (no float/str/dt) → numeric: bools render ``1``/``0``;
    - any str/dt/other in the mix → object: every value keeps its own
      ``str()`` form (ints ``23``, bools ``True``, floats shortest-repr).

    Float lexical forms are pandas-exact across the full double range
    (functions/render.py: positional window rewrite + shortest-digits
    search); the one remaining deviation is non-integral or ≥2^63 doubles
    in the scientific range, where Java's digits can carry one extra digit
    (<0.5% of such values; both forms round-trip to the same double).

    The promotion mode is a property of the whole frame, so it is decided
    over *all* value columns — also when the branches are melted apart.
    """
    value_vars = list(value_vars)
    if not value_vars:
        raise ValueError(f'no data fields: columns={df.columns}')
    dt_cols = set(datetime_columns)
    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))

    string_sources = {c for c in value_vars if isinstance(dtypes[c], T.StringType)}

    classes = {c: _dtype_class(dtypes[c], c in dt_cols) for c in value_vars}
    class_set = set(classes.values())
    pure_f32 = all(isinstance(dtypes[c], T.FloatType) for c in value_vars)
    if class_set <= {'int', 'float', 'bool'} and 'float' in class_set:
        mode = 'float'
    elif class_set == {'int', 'bool'}:
        mode = 'intbool'
    else:
        mode = 'object'

    # Columns whose render needs the pandas-exact double repr, rendered
    # over staged attributes (stage_double_str).
    force_double = set(force_double_cols)
    needs_pds = [
        c
        for c in value_vars
        if (mode == 'float' and classes[c] != 'bool' and not pure_f32)
        or (mode == 'object' and classes[c] == 'float')
        or (mode == 'object' and c in force_double)
    ]
    staged, double_str = stage_double_str(df, needs_pds)

    def _render(c: str):
        col, dtype, cls = F.col(c), dtypes[c], classes[c]
        if c in double_str:
            return double_str[c]
        if mode == 'float':
            if cls == 'bool':
                return (
                    F.when(col.isNull(), F.lit(None).cast('string'))
                    .when(col, F.lit('1.0'))
                    .otherwise(F.lit('0.0'))
                )
            # pure-f32 frame stays float32 through pandas melt;
            # astype(str) is numpy's shortest float32 repr == Spark cast
            return col.cast('string')
        if mode == 'intbool' and cls == 'bool':
            return (
                F.when(col.isNull(), F.lit(None).cast('string'))
                .when(col, F.lit('1'))
                .otherwise(F.lit('0'))
            )
        return render_value(col, dtype, as_datetime=(c in dt_cols))

    return staged, {c: _render(c) for c in value_vars}, string_sources


def melt_branch(df: DataFrame, subject: str, values: Sequence[Column]) -> DataFrame:
    """One branch's long frame ``(subject, predicate, object)``: a single
    unpivot (one Expand) over this branch's value expressions only.  Each
    expression's alias is its predicate, so renames resolve at plan time
    (aliases may repeat) and a literal value constant-folds into the
    Expand's projection."""
    return df.unpivot(
        ids=[subject], values=list(values), variableColumnName='predicate', valueColumnName='object'
    ).withColumnRenamed(subject, 'subject')


