"""Vertical transform: long (EAV) frame → (intrinsic, edges) triple frames.

Re-expresses the reference's 16-step chain
(/root/reference/dgraphpandas/strategies/vertical.py:17-115) as pure Column
expressions over one long DataFrame — Catalyst collapses the whole chain into
a single whole-stage-codegen projection per branch; the only shuffle in the
entire transform is the subject-distinct for dgraph.type records (R3), and
even that is skipped when ``assume_unique_subjects`` is set (transcript keys
are unique).

Stage map (reference file:line → here):
  rename predicate/object  vertical.py:90        → withColumnsRenamed
  pre_rename (C5)          vertical_helpers.py:284-296 → map-literal coalesce
  ignore_fields (P1)       vertical_helpers.py:252-263 → filter ~isin
  csv_edges (R2)           vertical_helpers.py:14-38   → split+explode_outer+trim
  join key fields (C4)     vertical_helpers.py:41-67   → concat_ws, no row apply
  dgraph.type (R3)         vertical_helpers.py:70-84   → distinct subjects + union
  split intrinsic/edges(R4) vertical_helpers.py:87-113 → two filters over the
                            same long frame, so each branch scans every
                            column the long frame was built from
  '_id' strip (C6)         vertical_helpers.py:105-106 → F.replace (substring-
                            anywhere, matching pandas str.replace regex=False)
  rdf types (C8)           vertical_helpers.py:116-134 → map-literal + coalesce
  date fields (C2/C3/P3)   vertical_helpers.py:137-165 → to_timestamp + iso expr
  illegal scrub (C7)       vertical_helpers.py:168-198 → regexp_replace, gated
                            to string-sourced predicates (pandas Series.replace
                            only rewrites str values)
  NA drops (P2)            vertical_helpers.py:201-213 → filter isNotNull
  edge qualify (C9)        vertical_helpers.py:216-249 → when/otherwise exprs
  projection (P4)          vertical.py:112-113         → select

The steps after the R4 split are ``finish_intrinsic`` / ``finish_edges``,
shared with the horizontal entry, which resolves every step before the
split at plan time per source column instead (operators/horizontal.py).
"""
from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Dict, Iterable, List, Optional, Set, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import get_from_config
from ..functions.render import iso_datetime, render_value, stage_double_str
from ..functions.strftime import strftime_to_spark
from ..sources.table_format import _read_source
from ..types import DEFAULT_RDF_TYPE, find_rdf_types

TRIPLE_COLUMNS = ['subject', 'predicate', 'object', 'type']
ILLEGAL_CHARACTERS = ['%', '\\.', '\\s', '\"', '\\n', '\\r\\n']
ILLEGAL_CHARACTERS_INTRINSIC_OBJECT = ['\"', '\\n', '\\r\\n']


def _map_literal_lookup(col: Column, mapping: Dict[str, str]) -> Column:
    """``mapping.get(value, None)`` as a Catalyst expression."""
    pairs: List[Column] = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.create_map(*pairs)[col]


def _rename_predicates(frame: DataFrame, pre_rename: Dict[str, str]) -> DataFrame:
    """C5 — parity: vertical_helpers.py:284-296."""
    if not pre_rename:
        return frame
    return frame.withColumn(
        'predicate', F.coalesce(_map_literal_lookup(F.col('predicate'), pre_rename), F.col('predicate'))
    )


def _ignore_fields(frame: DataFrame, ignore: List[str]) -> DataFrame:
    """P1 — parity: vertical_helpers.py:252-263."""
    if not ignore:
        return frame
    return frame.filter(~F.col('predicate').isin(ignore))


def _expand_csv_edges(frame: DataFrame, csv_edges: List[str], seperator: str = ',') -> DataFrame:
    """R2 — parity: vertical_helpers.py:14-38.

    csv-listed predicates: split object on the literal separator, explode,
    trim, and *always* drop null exploded objects; other predicates pass
    through untouched (including their nulls).
    """
    if not csv_edges:
        return frame
    is_csv = F.col('predicate').isin(csv_edges)
    arr = F.when(is_csv, F.split(F.col('object'), re.escape(seperator))).otherwise(
        F.array(F.col('object'))
    )
    frame = frame.withColumn('object', F.explode_outer(arr))
    # Python str.strip() parity, NOT F.trim: pandas ``.str.strip()``
    # (vertical_helpers.py:34) strips every char with str.isspace() —
    # \t\n\v\f\r, the ASCII file/group/record/unit separators, NEL, NBSP
    # and the unicode space block — while Spark's trim removes ' ' only.
    # (Fuzz-found: '1 \n' must strip to '1', not scrub to '1 '.)  That set
    # is Python's \s, spelled once in ``_PY_SPACE`` for the C7 scrub.
    py_ws = f'[{_PY_SPACE}]+'
    stripped = F.regexp_replace(F.col('object'), f'(?U)^{py_ws}|{py_ws}$', '')
    frame = frame.withColumn(
        'object', F.when(is_csv, stripped).otherwise(F.col('object'))
    )
    return frame.filter(~(is_csv & F.col('object').isNull()))


def subject_expr(
    key: List[str], key_seperator: str, dgraph_type: str, dtypes: Dict[str, T.DataType]
) -> Column:
    """C4 — composite xid ``{dgraph_type}{sep}{k1}{sep}{k2}…``.

    Parity: vertical_helpers.py:41-67, including str()-rendering of each key
    and pandas' ``'nan'`` for missing key values.  Single vectorized
    ``concat_ws`` — the reference's row-wise ``apply`` escape (its own perf
    comment at :43-46) is unnecessary under codegen.
    """
    # pandas renders a missing key as 'None' (object/string columns hold
    # None) or 'nan' (numeric columns hold NaN) — keep that distinction.
    parts = [
        F.coalesce(
            render_value(F.col(k), dtypes[k]),
            F.lit('None') if isinstance(dtypes[k], T.StringType) else F.lit('nan'),
        )
        for k in key
    ]
    return F.concat_ws(key_seperator, F.lit(dgraph_type), *parts)


# one regex token: a whole character class, an escape, or one character
_REGEX_TOKEN = re.compile(r'\[\^?\]?(?:\\.|[^\]\\])*\]|\\.|.', re.S)
_PY_SPACE = r'\s\x1c-\x1f'  # Python's \s as the body of a Java (?U) class


def _python_space(pattern: str) -> str:
    """Widen every unescaped ``\\s`` to Python's set: Java's ``(?U)\\s``
    misses U+001C–U+001F (file, group, record and unit separators), which
    Python's ``\\s`` matches."""

    def widen(m: re.Match) -> str:
        tok = m.group()
        if tok == r'\s':
            return f'[{_PY_SPACE}]'
        if tok.startswith('['):
            return re.sub(r'\\.', lambda e: _PY_SPACE if e.group() == r'\s' else e.group(), tok)
        return tok

    return _REGEX_TOKEN.sub(widen, pattern)


def _scrub_expr(col: Column, characters: List[str]) -> Column:
    """C7 — alternation regex removal; parity: vertical_helpers.py:168-198.

    ``(?U)`` (UNICODE_CHARACTER_CLASS): the reference compiles the pattern
    with Python ``re``, whose ``\\s``/``\\w``/``\\d`` are Unicode-aware by
    default (``\\s`` strips NBSP etc.), while Java's default classes are
    ASCII-only.  The flag aligns most of Java with Python's semantics for
    the default and any user-supplied character patterns;
    ``_python_space`` adds the four code points ``\\s`` still differs in."""
    return F.regexp_replace(col, '(?U)' + _python_space('|'.join(characters)), '')


def empty_triples(spark) -> DataFrame:
    schema = T.StructType([T.StructField(c, T.StringType()) for c in TRIPLE_COLUMNS])
    return spark.createDataFrame([], schema)


@dataclass(frozen=True)
class RefineOptions:
    """The chain's config options, read once with the reference's
    precedence (kwargs > config > default; config.py:9-21) and shared by
    both entries."""

    edge_fields: Any
    dgraph_type: Any
    key_seperator: str
    add_dgraph_type_records: bool
    strip_id_from_edge_names: bool
    drop_na_intrinsic_objects: bool
    drop_na_edge_objects: bool
    illegal_characters: List[str]
    illegal_characters_intrinsic_object: List[str]
    csv_edges: List[str]
    csv_edges_seperator: str
    ignore_fields: List[str]
    override_edge_name: Dict[str, Any]
    pre_rename: Dict[str, str]
    type_overrides: Dict[str, str]
    date_fields: Dict[str, Any]
    edge_id_convention: bool
    assume_unique_subjects: bool

    @classmethod
    def from_config(
        cls, config: Dict[str, Any], file_config: Dict[str, Any], config_file_key: str, **kwargs
    ) -> 'RefineOptions':
        def top(key, default):
            return get_from_config(key, config, default, **kwargs)

        def per_file(key, default):
            return get_from_config(key, file_config, default, **kwargs)

        return cls(
            edge_fields=per_file('edge_fields', []),
            dgraph_type=per_file('dgraph_type', config_file_key),
            key_seperator=top('key_separator', '_'),
            add_dgraph_type_records=top('add_dgraph_type_records', True),
            strip_id_from_edge_names=top('strip_id_from_edge_names', True),
            drop_na_intrinsic_objects=top('drop_na_intrinsic_objects', True),
            drop_na_edge_objects=top('drop_na_edge_objects', True),
            illegal_characters=top('illegal_characters', ILLEGAL_CHARACTERS),
            illegal_characters_intrinsic_object=top(
                'illegal_characters_intrinsic_object', ILLEGAL_CHARACTERS_INTRINSIC_OBJECT
            ),
            csv_edges=per_file('csv_edges', []),
            csv_edges_seperator=per_file('csv_edges_seperator', ','),
            ignore_fields=per_file('ignore_fields', []),
            override_edge_name=per_file('override_edge_name', {}),
            pre_rename=per_file('pre_rename', {}),
            type_overrides=per_file('type_overrides', {}),
            date_fields=per_file('date_fields', {}),
            edge_id_convention=per_file('edge_id_convention', False),
            assume_unique_subjects=top('assume_unique_subjects', False),
        )


def type_rows(subjects: DataFrame, dgraph_type: Column) -> DataFrame:
    """R3 — one ``dgraph.type`` row per ``subject`` row
    (vertical_helpers.py:70-84)."""
    return subjects.select(
        'subject', F.lit('dgraph.type').alias('predicate'), dgraph_type.alias('object')
    )


def _gated_scrub(df: DataFrame, field: str, chars: List[str], names: Optional[Iterable[str]]) -> DataFrame:
    """C7 over ``field`` for rows whose predicate is in ``names`` (``None``:
    every row) — pandas' ``Series.replace`` only rewrites str values."""
    if not chars:
        return df
    if names is None:
        return df.withColumn(field, _scrub_expr(F.col(field), chars))
    names = sorted(names)
    if not names:
        return df
    return df.withColumn(
        field,
        F.when(F.col('predicate').isin(names), _scrub_expr(F.col(field), chars)).otherwise(F.col(field)),
    )


def finish_intrinsic(
    frame: DataFrame,
    o: RefineOptions,
    rdf_map: Dict[str, str],
    datetime_predicates: Set[str],
    scrub_subject: bool,
    scrub_names: Optional[Iterable[str]],
) -> DataFrame:
    """The intrinsic branch after the R4 split: C8 types, C2/C3/P3 dates,
    C7 scrubs, P2 NA drop, P4 projection.  ``scrub_names`` gates the
    object scrub (``None``: every row)."""
    intrinsic = frame
    # C8 — RDF literal types on intrinsic
    if rdf_map:
        intrinsic = intrinsic.withColumn(
            'type',
            F.coalesce(_map_literal_lookup(F.col('predicate'), rdf_map), F.lit(DEFAULT_RDF_TYPE)),
        )
    else:
        intrinsic = intrinsic.withColumn('type', F.lit(DEFAULT_RDF_TYPE))

    # C2 (vertical path) + C3 + P3 — date parse/ISO render/NaT drop
    if o.date_fields:
        obj = F.col('object')
        for dcol, opts in o.date_fields.items():
            if dcol in datetime_predicates:
                continue  # already ISO-rendered at melt
            fmt = (opts or {}).get('format')
            parsed = (
                F.to_timestamp(F.col('object'), strftime_to_spark(fmt))
                if fmt
                else F.to_timestamp(F.col('object'))
            )
            obj = F.when(F.col('predicate') == dcol, iso_datetime(parsed)).otherwise(obj)
        intrinsic = intrinsic.withColumn('object', obj)
        intrinsic = intrinsic.withColumn(
            'type',
            F.when(
                F.col('predicate').isin(list(o.date_fields)), F.lit('<xs:dateTime>')
            ).otherwise(F.col('type')),
        )
    # P3 — NaT rows are dropped unconditionally (vertical_helpers.py:163)
    intrinsic = intrinsic.filter(
        ~((F.col('type') == '<xs:dateTime>') & F.col('object').isNull())
    )

    if scrub_subject:
        intrinsic = _gated_scrub(intrinsic, 'subject', o.illegal_characters, None)
    # P2 — NA drop BEFORE the object scrub: regexp_replace preserves
    # nullness, so the results are identical, but filtering first keeps
    # Catalyst from substituting the scrub regex into the Filter predicate
    # (which would run the regexp twice per row — once to null-check, once
    # to project).
    if o.drop_na_intrinsic_objects:
        intrinsic = intrinsic.filter(F.col('object').isNotNull())
    intrinsic = _gated_scrub(intrinsic, 'object', o.illegal_characters_intrinsic_object, scrub_names)
    return intrinsic.select(*TRIPLE_COLUMNS)


def finish_edges(
    frame: DataFrame,
    o: RefineOptions,
    strip_id: bool,
    scrub_subject: bool,
    scrub_names: Optional[Iterable[str]],
    string_names: Optional[Iterable[str]],
) -> DataFrame:
    """The edge branch after the R4 split: C6 '_id' strip (when
    ``strip_id``), C7 scrubs, P2 NA drop, C9 qualification.
    ``scrub_names`` gates the object scrub and ``string_names`` picks the
    string-sourced null form, both by final (stripped) predicate name
    (``None``: every row)."""
    edges = frame
    if strip_id:
        # C6 — substring-anywhere, matching pandas str.replace regex=False
        edges = edges.withColumn('predicate', F.replace(F.col('predicate'), F.lit('_id'), F.lit('')))
    if scrub_subject:
        edges = _gated_scrub(edges, 'subject', o.illegal_characters, None)
    # NA drop before the object scrub — same double-regexp avoidance as the
    # intrinsic branch (scrub preserves nullness)
    if o.drop_na_edge_objects:
        edges = edges.filter(F.col('object').isNotNull())
    edges = _gated_scrub(edges, 'object', o.illegal_characters, scrub_names)

    # C9 — edge object qualification (vertical_helpers.py:216-249), pure
    # expressions instead of the reference's in-place row mutation.
    # str(None)='None' for string-sourced predicates, str(nan)='nan' for
    # numeric ones (only reachable when drop_na_edge_objects=False).
    key_seperator = o.key_seperator
    if string_names is None:
        null_form = F.lit('None')
    else:
        string_names = sorted(string_names)
        null_form = (
            F.when(F.col('predicate').isin(string_names), F.lit('None')).otherwise(F.lit('nan'))
            if string_names
            else F.lit('nan')
        )
    obj_safe = F.coalesce(F.col('object'), null_form)
    if o.override_edge_name:
        obj_expr: Column = F.concat(F.col('predicate'), F.lit(key_seperator), obj_safe)
        pred_expr: Column = F.col('predicate')
        for pred, ov in o.override_edge_name.items():
            cond = F.col('predicate') == pred
            obj_expr = F.when(
                cond, F.concat(F.lit(ov['target_node_type'] + key_seperator), obj_safe)
            ).otherwise(obj_expr)
            if 'predicate' in ov:
                pred_expr = F.when(cond, F.lit(ov['predicate'])).otherwise(pred_expr)
        edges = edges.withColumn('object', obj_expr).withColumn('predicate', pred_expr)
    else:
        edges = edges.withColumn(
            'object', F.concat(F.col('predicate'), F.lit(key_seperator), obj_safe)
        )

    return edges.withColumn('type', F.lit(None).cast('string')).select(*TRIPLE_COLUMNS)


def vertical_transform(
    frame: DataFrame,
    config: Dict[str, Any],
    config_file_key: str,
    **kwargs,
) -> Tuple[DataFrame, DataFrame]:
    """Long EAV frame → (intrinsic, edges), both
    ``DataFrame[subject, predicate, object, type]`` string-typed.

    Accepts the reference's config schema verbatim
    (reference docs/configuration.md).  The horizontal entry does
    not come through here: it resolves each source column's branch at plan
    time and runs only the per-branch tail (``finish_intrinsic`` /
    ``finish_edges``) — see horizontal.py.
    """
    if frame is None:
        raise ValueError('frame')
    if not config:
        raise ValueError('config')
    if not config_file_key:
        raise ValueError('config_file_key')

    try:
        file_config: Dict[str, Any] = config['files'][config_file_key]
    except KeyError:
        raise KeyError(f'{config_file_key} must be within the files object in config')

    if isinstance(frame, str):
        # Path entry, parity: reference strategies/vertical.py:38-41 reads the
        # CSV itself when handed a path (honoring read_csv_options).
        frame = _read_source(frame, file_config, **kwargs)

    o = RefineOptions.from_config(config, file_config, config_file_key, **kwargs)
    subject_fields = get_from_config('subject_fields', file_config, **kwargs)
    predicate_field = get_from_config('predicate_field', file_config, 'predicate', **kwargs)
    object_field = get_from_config('object_field', file_config, 'object', **kwargs)
    edge_fields = o.edge_fields

    if o.edge_id_convention:
        # C12 — parity: vertical_helpers.py:299-305, wired vertical.py:65-67
        def edge_fields(fr: DataFrame) -> List[str]:
            pred_col = predicate_field if predicate_field in fr.columns else 'predicate'
            return [
                r[0]
                for r in fr.filter(F.col(pred_col).endswith('_id'))
                .select(pred_col)
                .distinct()
                .collect()
            ]

    # C11 — callable config resolution (vertical_helpers.py:266-281).
    # Callables receive the Spark DataFrame (schema-level introspection).
    def _resolve(v):
        return v(frame) if callable(v) else v

    key: List[str] = _resolve(subject_fields)
    edges_list: List[str] = _resolve(edge_fields) or []
    dgraph_type = _resolve(o.dgraph_type)
    predicate_field = _resolve(predicate_field)
    object_field = _resolve(object_field)

    if not key:
        raise ValueError('subject_fields must be defined')
    if predicate_field not in frame.columns:
        raise KeyError(f'predicate column {predicate_field} must be defined on vertical frame')
    if object_field not in frame.columns:
        raise KeyError(f'object column {object_field} must be defined on vertical frame')

    frame = frame.withColumnsRenamed({predicate_field: 'predicate', object_field: 'object'})

    rdf_map = find_rdf_types(o.type_overrides)
    datetime_predicates: Set[str] = set()
    string_sources: Set[str] = set()

    # Lexically render the object column.
    obj_type = frame.schema['object'].dataType
    dt_preds = set(o.date_fields) | {p for p, t in rdf_map.items() if t == '<xs:dateTime>'}
    if isinstance(obj_type, (T.TimestampType, T.TimestampNTZType)):
        frame = frame.withColumn(
            'object',
            F.when(F.col('predicate').isin(list(dt_preds)), iso_datetime(F.col('object')))
            .otherwise(render_value(F.col('object'), obj_type)),
        )
        datetime_predicates |= dt_preds
    elif isinstance(obj_type, T.StringType):
        string_sources.add('*')  # every predicate is string-sourced
    elif isinstance(obj_type, (T.FloatType, T.DoubleType)):
        staged, double_str = stage_double_str(frame, ['object'])
        frame = staged.withColumn('object', double_str['object']).select(*frame.columns)
    else:
        frame = frame.withColumn('object', render_value(F.col('object'), obj_type))

    dtypes = {f.name: f.dataType for f in frame.schema.fields}

    frame = _rename_predicates(frame, o.pre_rename)
    frame = _ignore_fields(frame, o.ignore_fields)
    frame = _expand_csv_edges(frame, o.csv_edges, o.csv_edges_seperator)
    string_sources |= set(o.csv_edges)

    # C4 — subject key concat, then drop key columns
    frame = frame.select(
        subject_expr(key, o.key_seperator, dgraph_type, dtypes).alias('subject'),
        'predicate',
        'object',
    )

    # R3 — dgraph.type records (vertical_helpers.py:70-84)
    if o.add_dgraph_type_records:
        subjects = frame.select('subject')
        if not o.assume_unique_subjects:
            subjects = subjects.distinct()
        frame = frame.unionByName(type_rows(subjects, F.lit(dgraph_type)))
        string_sources.add('dgraph.type')

    # C7 gating names; '*' (string object column) scrubs every row
    str_preds: Optional[Set[str]] = None if '*' in string_sources else string_sources
    edge_str_preds = str_preds
    if str_preds is not None and o.strip_id_from_edge_names:
        edge_str_preds = {p.replace('_id', '') for p in str_preds}

    # R4 — intrinsic/edge split
    in_edges = F.col('predicate').isin(edges_list)
    intrinsic = finish_intrinsic(
        frame.filter(~in_edges) if edges_list else frame,
        o, rdf_map, datetime_predicates, scrub_subject=True, scrub_names=str_preds,
    )
    if not edges_list:
        return intrinsic, empty_triples(frame.sparkSession)
    edges = finish_edges(
        frame.filter(in_edges), o, strip_id=o.strip_id_from_edge_names,
        scrub_subject=True, scrub_names=edge_str_preds, string_names=edge_str_preds,
    )
    return intrinsic, edges
