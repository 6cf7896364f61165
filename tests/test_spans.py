"""ExactSubstr span dedup (textops.spans): the token-index engine against
the DuckDB contract oracles replayed over randomized corpora, both
shapes of the size-gated global count, and the plan shape.
"""

import random

import pytest

from nativeextractor_spark.queries import (
    O_DUP_SPAN_REMOVAL,
    O_DUP_SPAN_STATS,
    _DUP_SPAN_N,
)
from nativeextractor_spark.textops import spans
from nativeextractor_spark.textops.spans import (
    duplicate_span_stats,
    duplicate_spans,
    remove_duplicate_spans,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _random_docs():
    """Planted cross-doc runs (tiny vocab: natural collisions), within-doc
    repeats, multi-separator gaps and trailing separators, plus the edge
    rows: None and "", fewer than n tokens, maximal overlap, runs at gap
    n (one uncovered separator between), double separators."""
    rng = random.Random(23)
    vocab = [f"t{i}" for i in range(40)]
    docs = []
    for d in range(60):
        n = rng.randrange(0, 30)
        words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        sep = lambda: "\n" if rng.random() < 0.15 else " "
        text = ""
        for j, w in enumerate(words):
            text += (sep() if j else "") + w
        if rng.random() < 0.2:
            text += " "  # trailing separator -> empty final token
        docs.append((d, text if n else rng.choice([None, ""])))
    docs += [
        (100, None),
        (101, ""),
        (102, "t1 t2"),  # fewer than n tokens
        (103, "x x x x x x x x"),  # maximal overlap
        (104, "a b c q a b c r a b c"),  # runs at gap n
        (105, "s  s  s  s  s"),  # empty tokens (double separators)
        (106, "ř čč ř čč ř čč"),  # multibyte tokens
    ]
    return docs


def test_span_operators_match_duckdb_oracle_randomized(spark, oracle_replay):
    """duplicate_span_stats and remove_duplicate_spans equal the
    dup_span_stats / dup_span_removal contract oracles on a randomized
    corpus."""
    docs = _random_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(n_tokens=_DUP_SPAN_N)
    got, want = oracle_replay(duplicate_span_stats(df, **kw), O_DUP_SPAN_STATS, docs)
    assert got == want
    got, want = oracle_replay(
        remove_duplicate_spans(df, **kw), O_DUP_SPAN_REMOVAL, docs
    )
    assert got == want


# 1 << 80 lies above even the size estimate of an in-memory frame, whose
# unknown stats (>= 2^63 - 1) otherwise resolve to the two-phase shape
@pytest.mark.parametrize("min_bytes", [0, 1 << 80], ids=["two_phase", "one_phase"])
def test_span_two_phase_gate_both_shapes_match_oracle(
    spark, oracle_replay, monkeypatch, min_bytes
):
    """Both sides of the size gate in _eligible_starts — the two-phase
    count (staged dup-only slice) at threshold 0 and the single combined
    aggregate at a huge threshold — give the oracle's output."""
    from nativeextractor_spark import staging

    monkeypatch.setattr(spans, "_TWO_PHASE_MIN_BYTES", min_bytes)
    tags = []
    real_stage = staging.stage
    monkeypatch.setattr(staging, "stage", lambda tag: tags.append(tag) or real_stage(tag))
    docs = _random_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(n_tokens=_DUP_SPAN_N)
    got, want = oracle_replay(duplicate_span_stats(df, **kw), O_DUP_SPAN_STATS, docs)
    assert got == want
    got, want = oracle_replay(
        remove_duplicate_spans(df, **kw), O_DUP_SPAN_REMOVAL, docs
    )
    assert got == want
    # the staged dup-only slice marks the two-phase shape
    assert ("spans-dup" in tags) == (min_bytes == 0), tags


def test_span_plan_has_no_token_window(spark):
    """Char offsets come from per-row slice-sums: no per-token offset
    machinery (posexplode + Window over token rows + offset join) in the
    plan, leaving the gram count as the only corpus-volume shuffle."""
    df = spark.createDataFrame(
        [(i, "a b c d e f g h a b c d e f g h") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(duplicate_spans(df, n_tokens=4))
    assert "Window" not in plan, plan
    assert "posexplode" not in plan, plan

