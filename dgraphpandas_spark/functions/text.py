"""Text-analysis functions for large-scale training-data pipelines
(engine additions beyond the reference — task brief "text analysis").

Every function is a pure Column expression (JVM-side, codegen) and has an
exactly-mirrorable ANSI/DuckDB formulation, so each ships with a DuckDB
oracle in ``__spark_entry__.oracle_sql``.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .determinism import md5_int

# deterministic marker sets for the n-gram/stopword language heuristic
LANG_MARKERS = {
    'en': ['the', 'and', 'of', 'to', 'a', 'in', 'is'],
    'de': ['der', 'und', 'die', 'das', 'ist', 'nicht'],
    'fr': ['le', 'la', 'et', 'les', 'est', 'une'],
    'es': ['el', 'de', 'que', 'los', 'es', 'una'],
}

STOPWORDS = LANG_MARKERS['en']

PUNCT_CLASS = r'[.,;:!?]'


def normalized(text: Column) -> Column:
    """lowercase + collapse whitespace — shared normal form for
    fingerprinting and tokenization."""
    return F.regexp_replace(F.lower(F.trim(text)), r'\s+', ' ')


def tokens(text: Column) -> Column:
    return F.split(normalized(text), ' ')


def token_count(text: Column) -> Column:
    """Whitespace token count (empty text → 0)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(tokens(text)))


def bpe_token_estimate(text: Column) -> Column:
    """BPE-ish token-count estimate: one token per ~4 chars plus one per
    punctuation mark — the standard cheap proxy when no tokenizer is
    shipped (none is, in this container)."""
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, PUNCT_CLASS, ''))
    return (F.ceil(n_chars / F.lit(4.0)) + n_punct).cast('int')


def punct_ratio(text: Column) -> Column:
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, PUNCT_CLASS, ''))
    return F.when(n_chars == 0, F.lit(0.0)).otherwise(n_punct / n_chars.cast('double'))


def stopword_ratio(text: Column, stopwords=None) -> Column:
    toks = tokens(text)
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(hits / F.size(toks).cast('double'))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation,
    punctuation sanity, stopword presence.  Rounded to 6 dp so the Spark
    and DuckDB formulations hash identically."""
    length_term = F.least(F.lit(1.0), token_count(text) / F.lit(100.0))
    score = (
        F.lit(0.5) * length_term
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text))
        + F.lit(0.2) * stopword_ratio(text)
    )
    return F.round(score, 6)


def lang_id(text: Column) -> Column:
    """Marker-token language heuristic: count hits per language, argmax
    with deterministic tie-break on language code order ('de' < 'en' < …
    alphabetical).  Returns a language code string."""
    toks = tokens(text)
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
        scores.append((lang, hits))
    # argmax via struct max: (hits, -ord) so ties break to alphabetically
    # first language; mirrored in SQL with greatest(struct...)
    best = F.greatest(*[F.struct(h.alias('h'), F.lit(-i).alias('o'), F.lit(lang).alias('l'))
                        for i, (lang, h) in enumerate(scores)])
    return F.when(best['h'] == 0, F.lit('und')).otherwise(best['l'])


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normal form (rolling-hash class;
    md5 chosen because Spark and DuckDB produce identical hex)."""
    return F.md5(normalized(text).cast('binary'))


def word_ngrams(toks: Column, n: int) -> Column:
    """Word ``n``-grams of a token array, each joined by ' ', in order; an
    array of fewer than ``n`` tokens gives none.  The one n-gram spelling
    of the package: ``n`` shifted slices folded with ``zip_with``, so
    ``toks`` enters every higher-order function as an ARGUMENT (evaluated
    once per row) and may be any expression — a lambda-captured array
    would be re-evaluated per gram (the HOF-capture rule, CLAUDE.md)."""
    m = F.size(toks) - F.lit(n - 1)
    gram = F.slice(toks, 1, m)
    for j in range(1, n):
        gram = F.zip_with(gram, F.slice(toks, j + 1, m),
                          lambda x, y: F.concat(x, F.lit(' '), y))
    # Spark's slice raises on a negative length: short arrays branch away
    return F.when(F.size(toks) < n, F.array().cast('array<string>')).otherwise(gram)


def window_count(toks: Column, stride: int) -> Column:
    """How many ``token_windows`` a token array has at ``stride``:
    ⌈size / stride⌉, 0 for an empty or null array."""
    n = F.size(toks)
    return F.when(n > 0, F.floor((n - 1) / F.lit(stride)).cast('int') + 1).otherwise(F.lit(0))


def token_windows(toks: Column, size: int, stride: int) -> Column:
    """Windows of up to ``size`` tokens, each joined by ' ', one starting
    at every ``stride``-th token (the tail windows may be shorter);
    ``size == stride`` is the aligned-block case.  ``toks`` is captured by
    the window lambda, so pass an attribute reference (a staged column),
    never a deep expression."""
    return F.transform(
        F.array_repeat(F.lit(0), window_count(toks, stride)),
        lambda _, i: F.array_join(F.slice(toks, i * stride + 1, size), ' '),
    )


def winnow_fingerprints(text: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken MOSS
    scheme): hash every k-token gram, slide a window of ``w`` consecutive
    gram hashes, keep each window's minimum, return the distinct selected
    hashes — a position-robust fingerprint set whose overlap estimates
    local similarity (guaranteed to catch matches ≥ w+k−1 tokens long).

    Pure expressions (sequence/transform/slice/array_min — one fused
    projection, no shuffle, no Python).  Gram hashes are the first 60 bits
    of md5 as LONG — computed directly rather than incrementally (the
    classic 'rolling' optimization is per-row CPU, irrelevant under
    whole-stage codegen), and replayable verbatim in DuckDB oracles.
    Docs shorter than k tokens fingerprint to an empty set; shorter than
    k+w−1 grams use the global minimum (one window).

    Performance note (round 5): the grams (``word_ngrams``) and the
    sliding windows are built from SHIFTED SLICES combined with
    ``zip_with`` — never ``transform(sequence(...), i -> f(expensive_array,
    i))``.  A lambda-captured array is re-evaluated per element (no CSE
    across lambda invocations), which made the original formulation O(n²)
    in regex/md5 work per document; as zip_with ARGUMENTS each array is
    evaluated once, keeping the whole fingerprint O(n·k) per row.
    """
    hashes = F.transform(word_ngrams(tokens(text), k), lambda g: md5_int(g, 15))
    m2 = F.size(hashes) - F.lit(w - 1)
    win = F.slice(hashes, 1, m2)
    for j in range(1, w):
        win = F.zip_with(win, F.slice(hashes, j + 1, m2),
                         lambda x, y: F.least(x, y))
    wins = (
        F.when(F.size(hashes) == 0, F.array().cast('array<long>'))
        .when(F.size(hashes) < w, F.array(F.array_min(hashes)))
        .otherwise(win)
    )
    return F.array_distinct(wins)


# ------------------------------------------------- repetition quality filters
#
# Gopher-style (Rae et al. 2021, §A1.1) repetition signals, adapted to the
# single-line word-stream documents of this corpus: fraction of duplicate
# tokens, fraction of n-grams occupied by the single most frequent n-gram,
# and fraction of duplicate n-grams.  All doc-local — pure array
# expressions, zero shuffle, fused into the scan projection.
#
# The most-frequent-gram count deliberately avoids the obvious
# count-per-distinct formulation (O(L²) per doc — quadratic in document
# length, ruinous on 100k-token web documents).  Instead: sort the gram
# array once, find run starts, take the max gap between consecutive starts
# — O(L log L), identically expressible in DuckDB for the oracle.


def _dup_fraction(arr: Column) -> Column:
    """(elements − distinct elements) / elements; 0.0 when empty.  Safe to
    inline: ``arr`` must be an attribute reference, not a deep expression."""
    n = F.size(arr)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round((n - F.size(F.array_distinct(arr))) / n.cast('double'), 6)
    )


def with_repetition_stats(df, text_col: str = 'text'):
    """Append ``dup_token_frac``, ``top_bigram_frac``, ``dup_trigram_frac``
    and ``keep`` to ``df``.

    Implemented as a chain of staged ``withColumn`` projections rather than
    one nested Column expression: each intermediate (token array, gram
    arrays, sorted bigrams, run starts) is referenced several times by the
    next stage, and Catalyst's CollapseProject duplicates a multi-referenced
    alias only when it is cheap — so the arrays are computed ONCE per row.
    (The naive nested formulation re-expands the sorted-gram subtree ~10×
    inside the HOF lambdas and was measured 2 orders of magnitude slower.)

    The most-frequent-bigram count is the O(L log L) sorted-run scheme:
    sort the bigram array, find run starts (positions whose predecessor
    differs — F.get is 0-indexed and NULL out-of-bounds, and NULL != x is
    NULL which filter() treats as false), max gap between consecutive
    starts.  The obvious count-per-distinct alternative is O(L²) per doc —
    ruinous on 100k-token web documents.  All doc-local: zero exchanges,
    the stages fuse into the scan-side projection pipeline."""
    t = F.col(text_col)
    tk, g2, g3, s2, st = (F.col(f'__rep_{c}') for c in ('toks', 'g2', 'g3', 's2', 'starts'))
    df = (
        df.withColumn('__rep_toks', tokens(t))
        .withColumn('__rep_g2', word_ngrams(tk, 2))
        .withColumn('__rep_g3', word_ngrams(tk, 3))
        .withColumn('__rep_s2', F.array_sort(g2))
        .withColumn(
            '__rep_starts',
            F.filter(
                F.sequence(F.lit(0), F.greatest(F.size(s2) - 1, F.lit(0))),
                lambda i: (i == 0) | (F.get(s2, i) != F.get(s2, i - 1)),
            ),
        )
        .withColumn(
            '__rep_maxrun',
            F.when(F.size(s2) == 0, F.lit(0)).otherwise(
                F.array_max(
                    F.transform(
                        F.sequence(F.lit(0), F.size(st) - 1),
                        lambda j: F.coalesce(F.get(st, j + 1), F.size(s2)) - F.get(st, j),
                    )
                )
            ),
        )
    )
    dup_tok = _dup_fraction(tk)
    top_bi = F.when(F.size(g2) == 0, F.lit(0.0)).otherwise(
        F.round(F.col('__rep_maxrun') / F.size(g2).cast('double'), 6)
    )
    dup_tri = _dup_fraction(g3)
    df = (
        df.withColumn('dup_token_frac', dup_tok)
        .withColumn('top_bigram_frac', top_bi)
        .withColumn('dup_trigram_frac', dup_tri)
        .withColumn(
            'keep',
            repetition_keep(
                F.col('dup_token_frac'), F.col('top_bigram_frac'),
                F.col('dup_trigram_frac'), F.size(g2),
            ),
        )
    )
    return df.drop(*[c for c in df.columns if c.startswith('__rep_')])


# keep-thresholds in the spirit of Gopher table A1 (tuned to word streams).
# The top-bigram criterion only applies to docs with ≥ min_bigrams_for_top
# bigrams: on a short doc even all-unique grams give 1/n_grams > threshold,
# so concentration is meaningless below a floor (Gopher judges long docs).
REPETITION_THRESHOLDS = {
    'dup_token_frac': 0.80,
    'top_bigram_frac': 0.18,
    'dup_trigram_frac': 0.90,
    'min_bigrams_for_top': 20,
}


def repetition_keep(dup_tok: Column, top_bi: Column, dup_tri: Column,
                    n_bigrams: Column) -> Column:
    th = REPETITION_THRESHOLDS
    return (
        (dup_tok <= th['dup_token_frac'])
        & ((top_bi <= th['top_bigram_frac'])
           | (n_bigrams < th['min_bigrams_for_top']))
        & (dup_tri <= th['dup_trigram_frac'])
    )


# --------------------------------------------------------------- PII scrub
#
# Engine-portable patterns: explicit ASCII classes (never \d/\w, whose
# unicode semantics differ across regex engines), no lookaround — the same
# strings compile identically under Java regex and RE2 (DuckDB oracles).
# Order matters: emails first (their local part can contain digit runs),
# then SSN (3-2-4 beats the phone 3-3-4 only if applied before it), then
# phones.
PII_PATTERNS = [
    ('email', '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'),
    ('ssn', '[0-9]{3}-[0-9]{2}-[0-9]{4}'),
    ('phone', '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'),
]


def pii_counts(text: Column) -> dict:
    """Per-kind PII match counts — {'email': Column, 'ssn': ..., 'phone':
    ...}.  Counted in PII_PATTERNS order on the progressively-redacted
    text, so an SSN-shaped run inside a phone number is never double
    counted."""
    out = {}
    cur = text
    for kind, pat in PII_PATTERNS:
        out[kind] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, f'<{kind.upper()}>')
    return out


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its ``<KIND>`` placeholder — the
    curation-stage scrub run before a corpus is eligible for training.
    Pure codegen expressions, zero shuffle; fuses into the scan."""
    cur = text
    for kind, pat in PII_PATTERNS:
        cur = F.regexp_replace(cur, pat, f'<{kind.upper()}>')
    return cur
