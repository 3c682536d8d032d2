"""Seeded input generators for the benchmark workloads.

Inputs are built with numpy and pyarrow, outside Spark, for two reasons:
generating them must not warm the JVM (``first_pass_s`` is the cost of a
cold ``spark-submit``), and set-up is repeated several times per run so its
median is steady, which only a cheap generator allows.

The transcript table has the shape of
``dgraphpandas_spark.sources.transcripts.synthetic_transcripts``: Zipf(1.2)
conversation lengths (conversation 0 is the hottest), ~30 % tool turns,
2 % null texts, and quote/percent/newline fragments that exercise the
illegal-character scrub.  The seed picks the content; the Zipf lengths
depend only on the size, as in the library generator.

Every generator also returns the expected output counts, derived from the
generated arrays alone, so the output checks never trust the library to
count for itself.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = np.array([f'w{i}' for i in range(997)], dtype=object)
# text fragments with a quote, a percent sign and a newline, for the scrub
FRAGMENTS = ['she said "hi"', '100% done.', 'line\nbreak']
TS0 = 1767225600  # 2026-01-01T00:00:00Z
N_TOOLS = 50
DOC_WORDS = 40  # words per near-duplicate-detection document
TRANSCRIPT_SCHEMA = pa.schema([
    ('conv_id', pa.string()),
    ('turn_idx', pa.int32()),
    ('role', pa.string()),
    ('text', pa.string()),
    ('tool', pa.string()),
    ('ts', pa.timestamp('us', tz='UTC')),
])


def zipf_turn_counts(n_turns: int, s: float = 1.2) -> np.ndarray:
    """Turns per conversation rank: ``max(1, round(C / (r+1)^s))`` with C
    chosen so the total is about ``n_turns`` (the library's closed form)."""
    n_convs = max(1, n_turns // 8)
    head = min(n_convs, 10_000)
    harmonic = float(np.sum(1.0 / np.arange(1, head + 1) ** s))
    if n_convs > head:
        harmonic += (n_convs ** (1 - s) - head ** (1 - s)) / (1 - s)
    c = n_turns / harmonic
    ranks = np.arange(n_convs, dtype=np.float64)
    return np.maximum(1, np.rint(c / (ranks + 1) ** s)).astype(np.int64)


def tool_dictionary() -> pa.Table:
    """Alias → canonical tool entity (two aliases per entity), keyed by the
    edge-object xid the transform emits for the ``tool`` field."""
    raw = [f'tool_tool{i}' for i in range(N_TOOLS)]
    canonical = [f'tool_tool{i % (N_TOOLS // 2)}' for i in range(N_TOOLS)]
    return pa.table({'raw': raw, 'canonical': canonical})


def transcripts(n_turns: int, seed: int, words: int = 6) -> tuple[pa.Table, dict]:
    """One row per turn.  ``words`` sets the text length: 6 gives the short
    chat turns of the headline input, ~170 gives ~1 KB agent turns.
    Returns the table and its expected counts."""
    rng = np.random.default_rng(seed)
    counts = zipf_turn_counts(n_turns)
    n = int(counts.sum())
    conv_rank = np.repeat(np.arange(counts.size), counts)
    turn_idx = np.arange(n) - np.repeat(np.cumsum(counts) - counts, counts)

    # 0 user, 1 tool, 2 assistant
    role = np.where(turn_idx % 2 == 0, 0, np.where(rng.random(n) < 1 / 11, 1, 2))
    # word ids; the ids past the vocabulary are the scrub-exercising fragments
    w = rng.integers(0, VOCAB.size, size=(n, words))
    w[rng.random(n) < 1 / 17, words // 2] = VOCAB.size
    w[rng.random(n) < 1 / 19, words - 1] = VOCAB.size + 1
    if words > 16:
        w[rng.random(n) < 0.5, words // 4] = VOCAB.size + 2
    no_text = rng.random(n) < 0.02
    tool_k = rng.integers(0, N_TOOLS, size=n)
    has_tool = rng.random(n) < 0.30

    vocab = pa.array(list(VOCAB) + FRAGMENTS)
    text = pc.binary_join_element_wise(*(vocab.take(w[:, j]) for j in range(words)), ' ')
    tools = pa.array([f'tool{i}' for i in range(N_TOOLS)])
    table = pa.table({
        'conv_id': pa.array([f'c{i}' for i in range(counts.size)]).take(conv_rank),
        'turn_idx': turn_idx.astype(np.int32),
        'role': pa.array(['user', 'tool', 'assistant']).take(role),
        'text': pc.if_else(no_text, pa.nulls(n, pa.string()), text),
        'tool': pc.if_else(has_tool, tools.take(tool_k), pa.nulls(n, pa.string())),
        'ts': ((TS0 + conv_rank * 3600 + turn_idx * 7) * 1_000_000),
    }).cast(TRANSCRIPT_SCHEMA)

    n_text = n - int(no_text.sum())
    n_tool = int(has_tool.sum())
    canonical = dict(zip(*tool_dictionary().to_pydict().values()))
    expected = {
        'turns': n,
        'convs': int(counts.size),
        # horizontal_transform: role, ts and dgraph.type on every turn,
        # text where non-null (intrinsic); tool where non-null (edge)
        'triples': 3 * n + n_text + n_tool,
        'tools_canonical': len({canonical[f'tool_tool{k}'] for k in np.unique(tool_k[has_tool])}),
    }
    # + one turn→conversation edge per turn, one node per conversation and
    # one per canonical tool referenced
    expected['kg_lines'] = (
        expected['triples'] + n + expected['convs'] + expected['tools_canonical']
    )
    return table, expected


def write_parquet_parts(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Split ``table`` row-wise into ``n_files`` parquet files (so the scan
    parallelises on any core count) under a fresh ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f'part-{i:05d}.parquet')
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path,
                       compression='zstd')
        paths.append(path)
    return paths


def docs(n_docs: int, seed: int, n_pairs: int, hot_block: int) -> tuple[pa.Table, dict]:
    """Documents for near-duplicate detection.  ``n_pairs`` planted pairs
    differ in one word (3-shingle Jaccard ≈ 0.86, above the 0.8 threshold);
    ``hot_block`` identical boilerplate docs (ids ``0 .. hot_block-1``)
    share every LSH band bucket, so that block is larger than a
    ``max_bucket`` below ``hot_block``.  The rest are random word sequences
    over a 5k vocabulary, which never come near the threshold."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f't{i}' for i in range(5000)], dtype=object)
    words = DOC_WORDS
    w = vocab[rng.integers(0, vocab.size, size=(n_docs, words))]
    ids = np.arange(n_docs, dtype=np.int64)
    pick = rng.permutation(n_docs - hot_block)[: 2 * n_pairs] + hot_block
    a, b = pick[:n_pairs], pick[n_pairs:]
    w[b] = w[a]
    w[b, words // 2] = 'edited'
    w[:hot_block] = w[0]
    text = [' '.join(r) for r in w.tolist()]
    pairs = sorted((int(min(x, y)), int(max(x, y))) for x, y in zip(a, b))
    return pa.table({'doc_id': ids, 'text': text}), {'docs': n_docs, 'pairs': pairs, 'hot': hot_block}


def embeddings(n_vecs: int, seed: int, dim: int, n_twins: int, dense: int) -> tuple[pa.Table, dict]:
    """Vectors for the kNN graph.  ``dense`` vectors are tight perturbations
    of one centre, so they share one sign-LSH bucket (the hot block);
    ``n_twins`` planted twins are a vector plus 1e-6 relative noise, so each
    twin is the other's nearest neighbour.  The rest are isotropic."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n_vecs, dim))
    v[:dense] = rng.standard_normal(dim) + 1e-3 * rng.standard_normal((dense, dim))
    pick = rng.permutation(n_vecs - dense)[: 2 * n_twins] + dense
    a, b = pick[:n_twins], pick[n_twins:]
    v[b] = v[a] * (1 + 1e-6 * rng.standard_normal((n_twins, dim)))
    twins = sorted((int(x), int(y)) for x, y in zip(a, b))
    table = pa.table({
        'vec_id': np.arange(n_vecs, dtype=np.int64),
        'embedding': pa.array(v.tolist(), type=pa.list_(pa.float64())),
    })
    return table, {'vecs': n_vecs, 'twins': twins, 'dense': dense}
