"""Horizontal transform: wide frame → per-branch melt → refine tail.

Parity: reference dgraphpandas/strategies/horizontal.py:12-94, which
melts (R1) and tail-calls the vertical chain.  Stages: validate → (read csv
if path) → no-data-column guard (P6) → date_fields parse (C2) →
type_overrides cast (C1) → melt per branch → the vertical chain's per-branch
tail (``finish_intrinsic`` / ``finish_edges``).

Spark specifics: every step of the vertical chain before the R4 split
depends only on a row's *source column* (its predicate), so it is resolved
here at plan time, once per column: the branch fate (C5 pre_rename → P1
ignore_fields → R4 edge_fields, ``melt.branch_fates``), the renamed and
'_id'-stripped predicate name (C5/C6, as the Expand's literal), the C7 object
scrub (one ``regexp_replace`` per string-sourced column on the wide frame)
and the C4 subject with its scrub.  Each branch then melts only its own
columns (``melt.melt_branch``): ignored columns are never read, the edge
branch reads the key columns plus its edge columns, and with unique
subjects the dgraph.type row (R3) is one more projection of the intrinsic
Expand.  The vertical (long-frame) entry keeps the per-row chain.

Casting failures yield NULL (Spark semantics) where pandas would raise and
the reference would ``exit()`` (horizontal.py:79); we consider silent-null
the saner distributed behavior and document it.
"""
from __future__ import annotations

from functools import reduce
from typing import Any, Dict, List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import get_from_config
from ..functions.strftime import strftime_to_spark
from ..sources.table_format import _read_source
from ..types import find_rdf_types, find_spark_type, is_datetime_type_name
from .melt import (
    EDGE,
    INTRINSIC,
    branch_fates,
    downcast_forced_columns,
    melt_branch,
    render_columns,
    resolve_edge_fields,
)
from .vertical import (
    RefineOptions,
    _expand_csv_edges,
    _scrub_expr,
    empty_triples,
    finish_edges,
    finish_intrinsic,
    subject_expr,
    type_rows,
)


def horizontal_transform(
    frame: Union[str, DataFrame],
    config: Dict[str, Any],
    config_file_key: str,
    **kwargs,
) -> Tuple[DataFrame, DataFrame]:
    """Wide DataFrame (or CSV path) → (intrinsic, edges) triple frames."""
    if frame is None:
        raise ValueError('frame')
    if not config:
        raise ValueError('config')
    if not config_file_key:
        raise ValueError('config_file_key')

    if get_from_config('melt_strategy', config, 'expressions', **kwargs) != 'expressions':
        raise ValueError(
            "melt_strategy was removed: the Arrow melt ('arrow') is gone and the "
            "horizontal entry has one melt, the per-branch expressions unpivot"
        )

    file_config: Dict[str, Any] = config['files'][config_file_key]
    o = RefineOptions.from_config(config, file_config, config_file_key, **kwargs)
    type_overrides: Dict[str, str] = dict(o.type_overrides)
    subject_fields = get_from_config('subject_fields', file_config, **kwargs)
    date_fields: Dict[str, Any] = o.date_fields

    if isinstance(frame, str):
        # S1 — path scan (reference horizontal.py:35-38 reads CSV)
        frame = _read_source(frame, file_config, **kwargs)

    if callable(subject_fields):
        subject_fields = subject_fields(frame)
    if not subject_fields:
        raise ValueError('subject_fields')

    if len(frame.columns) <= len(subject_fields):
        # P6 — empty-data guard (reference horizontal.py:40-45)
        raise ValueError(
            f'It looks like there are no data fields. '
            f'subject_fields={subject_fields}, columns={frame.columns}'
        )

    # C2 — date_fields parse on the wide frame; auto-adds datetime override
    # (reference horizontal.py:52-58)
    for col, date_format in date_fields.items():
        fmt = (date_format or {}).get('format')
        dtype = frame.schema[col].dataType
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            parsed = F.col(col).cast('timestamp')
        elif fmt:
            parsed = F.to_timestamp(F.col(col), strftime_to_spark(fmt))
        else:
            parsed = F.to_timestamp(F.col(col))
        frame = frame.withColumn(col, parsed)
        if col not in type_overrides:
            type_overrides[col] = 'datetime64'

    # C1 — type-override casts so values melt with the correct lexical form
    # (reference horizontal.py:67-79)
    for col, user_type in type_overrides.items():
        spark_type = find_spark_type(user_type)
        if spark_type is None:
            raise ValueError(f'unknown type override {user_type!r} for column {col!r}')
        if col in date_fields:
            continue  # already a timestamp
        dtype = frame.schema[col].dataType
        if is_datetime_type_name(user_type) and isinstance(dtype, T.StringType):
            frame = frame.withColumn(col, F.to_timestamp(F.col(col)))
        else:
            frame = frame.withColumn(col, F.col(col).cast(spark_type))

    datetime_cols = set(date_fields) | {
        c for c, t in type_overrides.items() if is_datetime_type_name(t)
    }
    value_vars = [c for c in frame.columns if c not in subject_fields]
    dtypes = {f.name: f.dataType for f in frame.schema.fields}

    # Each column's branch is fixed by the config alone (C5 → P1 → R4), so
    # it is decided here, once; callables (C11) resolve against the wide
    # frame.
    edge_fields = resolve_edge_fields(o.edge_fields, o.edge_id_convention, value_vars, frame)
    fates = branch_fates(value_vars, o.pre_rename, o.ignore_fields, edge_fields)
    dgraph_type = o.dgraph_type(frame) if callable(o.dgraph_type) else o.dgraph_type
    force_double_cols = downcast_forced_columns(
        dtypes=dtypes,
        value_vars=value_vars,
        datetime_columns=datetime_cols,
        fates=fates,
        add_dgraph_type_records=o.add_dgraph_type_records,
        scrub_intrinsic_object=bool(o.illegal_characters_intrinsic_object),
        scrub_edge_object=bool(o.illegal_characters),
    )

    # C4 + C7 subject: built and scrubbed ONCE per source row on the wide
    # frame, so each Expand replicates a finished string instead of
    # re-running concat_ws + regexp_replace on every melted row.
    subj = subject_expr(list(subject_fields), o.key_seperator, dgraph_type, dtypes)
    if o.illegal_characters:
        subj = _scrub_expr(subj, o.illegal_characters)
    staged, rendered, string_sources = render_columns(
        frame.withColumn('__subject', subj), value_vars, datetime_cols, force_double_cols
    )

    # C7 gating by final predicate name, as the long chain gates it:
    # string-sourced columns, csv_edges and dgraph.type rows; edge names
    # compare '_id'-stripped.  csv_edges rows are scrubbed after their
    # split/strip, in the long frame; every other row is scrubbed here —
    # per source column on the wide frame, or as a constant for the
    # dgraph.type literal.
    strip = o.strip_id_from_edge_names
    # csv_edges match the unstripped name, so with csv_edges the C6 strip
    # stays a long-frame step after the split; otherwise it is resolved
    # into the melted predicate names
    strip_late = strip and bool(o.csv_edges)
    chars = {INTRINSIC: o.illegal_characters_intrinsic_object, EDGE: o.illegal_characters}

    def final_name(pred: str, branch: str) -> str:
        return pred.replace('_id', '') if branch == EDGE and strip else pred

    def melted_name(pred: str, branch: str) -> str:
        return pred if strip_late else final_name(pred, branch)

    str_names = {o.pre_rename.get(c, c) for c in string_sources} | set(o.csv_edges)
    if o.add_dgraph_type_records:
        str_names.add('dgraph.type')
    gate = {b: {final_name(p, b) for p in str_names} for b in (INTRINSIC, EDGE)}
    long_gate = {b: {final_name(p, b) for p in o.csv_edges} for b in (INTRINSIC, EDGE)}

    def scrubbed(value: Column, pred: str, branch: str) -> Column:
        name = final_name(pred, branch)
        if chars[branch] and name in gate[branch] and name not in long_gate[branch]:
            return _scrub_expr(value, chars[branch])
        return value

    melted = [c for c in value_vars if fates[c] is not None]
    wide = staged.select(
        '__subject',
        *[scrubbed(rendered[c], o.pre_rename.get(c, c), fates[c]).alias(c) for c in melted],
    )
    values: Dict[str, List[Column]] = {INTRINSIC: [], EDGE: []}
    for c in melted:
        values[fates[c]].append(F.col(c).alias(melted_name(o.pre_rename.get(c, c), fates[c])))

    # R3 — dgraph.type rows land in the branch their predicate routes to.
    # Without csv_edges/ignore_fields every source row keeps at least one
    # long row, so the subjects are the wide frame's: with unique subjects
    # the row is one more projection of that branch's Expand (no second
    # scan, no union); otherwise a distinct over the wide subjects, or over
    # the long rows when a stage before R3 may have removed a subject.
    type_branch = EDGE if 'dgraph.type' in edge_fields else INTRINSIC
    type_object = scrubbed(F.lit(dgraph_type), 'dgraph.type', type_branch)
    wide_subjects = not (o.csv_edges or o.ignore_fields)
    in_expand = o.add_dgraph_type_records and wide_subjects and o.assume_unique_subjects
    if in_expand:
        values[type_branch].append(type_object.alias('dgraph.type'))

    longs: Dict[str, Optional[DataFrame]] = {}
    for branch in (INTRINSIC, EDGE):
        long = melt_branch(wide, '__subject', values[branch]) if values[branch] else None
        if long is not None and o.csv_edges:
            long = _expand_csv_edges(long, o.csv_edges, o.csv_edges_seperator)
        longs[branch] = long

    if o.add_dgraph_type_records and not in_expand:
        if wide_subjects:
            parts = [wide.select(F.col('__subject').alias('subject'))]
        else:
            parts = [lf.select('subject') for lf in longs.values() if lf is not None]
        if parts:
            subjects = reduce(DataFrame.unionByName, parts)
            if not o.assume_unique_subjects:
                subjects = subjects.distinct()
            rows = type_rows(subjects, type_object)
            long = longs[type_branch]
            longs[type_branch] = rows if long is None else long.unionByName(rows)

    spark = frame.sparkSession
    rdf_map = find_rdf_types(type_overrides)
    intrinsic = (
        empty_triples(spark)
        if longs[INTRINSIC] is None
        else finish_intrinsic(
            longs[INTRINSIC], o, rdf_map, datetime_cols,
            scrub_subject=False, scrub_names=long_gate[INTRINSIC],
        )
    )
    edges = (
        empty_triples(spark)
        if longs[EDGE] is None
        else finish_edges(
            longs[EDGE], o, strip_id=strip_late, scrub_subject=False,
            scrub_names=long_gate[EDGE], string_names=gate[EDGE],
        )
    )
    return intrinsic, edges
