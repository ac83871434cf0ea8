"""Property-based tests for the dedup family (SURVEY.md §5.2(3)):
crafted document corpora with planted duplicates, verified against
independent pure-Python models of the dedup guarantees.

The queries read a parquet ``documents`` table from an sf_dir, so each
example writes a crafted corpus to a temp dir and runs the registered
query unmodified — the exact code path the driver checks.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ex_aws_firehose_spark.operators.llm import (
    q_dedup_exact,
    q_dedup_minhash,
    q_dedup_ngram_jaccard,
)

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# Word-soup text; min_size=1 deliberately includes docs SHORTER than
# the 3-token shingle width — the empty-shingle edge every dedup op
# must drop (not crash on, not pair).
_word = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"]
)
_text = st.lists(_word, min_size=1, max_size=12).map(" ".join)

_corpus = st.lists(_text, min_size=2, max_size=6)

_DIRS: list[str] = []


def _stage(spark, texts: list[str]) -> str:
    """Write a crafted documents corpus (with every text duplicated once
    so exact dupes are guaranteed to exist) as a table dir."""
    rows = []
    docs = list(texts) + list(texts)  # plant one duplicate per text
    for i, t in enumerate(docs):
        rows.append((i, t, "en", f"src{i % 3}", len(t)))
    d = tempfile.mkdtemp(prefix="prop_docs_")
    _DIRS.append(d)
    spark.createDataFrame(rows, DOCS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    return d


def teardown_module(module) -> None:
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus)
def test_exact_dedup_counts_every_copy(spark, texts):
    """Sum of n_copies equals corpus size and every distinct text maps
    to exactly one representative (the smallest doc_id holding it)."""
    sf = _stage(spark, texts)
    out = {r["text_hash"]: r for r in q_dedup_exact(spark, sf).collect()}
    assert sum(r["n_copies"] for r in out.values()) == 2 * len(texts)
    assert len(out) == len(set(texts))
    docs = list(texts) + list(texts)
    for r in out.values():
        rep = r["rep_doc_id"]
        assert docs.index(docs[rep]) == rep  # smallest id wins


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus)
def test_minhash_candidates_superset_of_exact_dupes(spark, texts):
    """Completeness: two documents with IDENTICAL text (≥3 tokens) have
    identical shingle sets → identical signatures → every band collides,
    so the pair MUST appear among MinHash candidates. (Soundness is
    probabilistic by design; completeness on exact dupes is not.)"""
    sf = _stage(spark, texts)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_minhash(spark, sf).collect()
    }
    docs = list(texts) + list(texts)
    for i, j in itertools.combinations(range(len(docs)), 2):
        if docs[i] == docs[j] and len(docs[i].split()) >= 3:
            assert (i, j) in pairs, f"exact dupe pair {(i, j)} missed"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus)
def test_jaccard_matches_python_model(spark, texts):
    """q_dedup_ngram_jaccard's pair set equals a pure-Python shingle
    Jaccard computation at the same threshold."""
    sf = _stage(spark, texts)
    got = {
        (r["doc_a"], r["doc_b"]) for r in q_dedup_ngram_jaccard(spark, sf).collect()
    }
    docs = list(texts) + list(texts)

    def sh(t: str) -> set[str]:
        toks = t.lower().split(" ")
        return {
            " ".join(toks[k : k + 3]) for k in range(len(toks) - 2)
        }

    expected = set()
    for i, j in itertools.combinations(range(len(docs)), 2):
        a, b = sh(docs[i]), sh(docs[j])
        if a and b and len(a & b) / len(a | b) >= 0.5:
            expected.add((i, j))
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus)
def test_prefix_filter_equals_bruteforce_jaccard(spark, texts):
    """Zero-false-negative guarantee: the prefix-filtered join's pair
    set EQUALS the brute-force shingle-Jaccard ≥ 0.5 pair set — the
    prefix pruning may only skip pairs that cannot reach the threshold,
    and the verify step removes any candidate that doesn't."""
    from ex_aws_firehose_spark.operators.llm import q_dedup_prefix_filter

    sf = _stage(spark, texts)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_prefix_filter(spark, sf).collect()
    }
    docs = list(texts) + list(texts)

    def sh(t: str) -> set[str]:
        toks = t.lower().split(" ")
        return {
            " ".join(toks[k : k + 3]) for k in range(len(toks) - 2)
        }

    expected = set()
    for i, j in itertools.combinations(range(len(docs)), 2):
        a, b = sh(docs[i]), sh(docs[j])
        if a and b and len(a & b) / len(a | b) >= 0.5:
            expected.add((i, j))
    assert got == expected


def test_span_cascade_drops_a_source_with_no_survivors(spark, tmp_path):
    """A source whose every document is an exact copy of a lower doc_id
    in another source keeps no survivors; the oracle's inner join gives
    it no report row, and neither may Spark."""
    from ex_aws_firehose_spark.operators.llm import q_curate_span_cascade
    from ex_aws_firehose_spark.registry import REGISTRY
    from ex_aws_firehose_spark.testing import compare_frames

    texts = [
        "the quick brown fox jumps over the lazy dog again",
        "a stitch in time saves nine and then saves more",
        "every good boy deserves fudge with extra fudge sauce",
    ]
    rows = [(i + 1, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    rows += [(10 + i, t, "en", "mirror", len(t)) for i, t in enumerate(texts)]
    sf = str(tmp_path)
    spark.createDataFrame(rows, DOCS_SCHEMA).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    got = q_curate_span_cascade(spark, sf).toPandas()
    assert list(got["source"]) == ["web"]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet/*.parquet')"
        )
        want = con.execute(REGISTRY["q_curate_span_cascade"].oracle).df()
    finally:
        con.close()
    res = compare_frames("q_curate_span_cascade", got, want)
    assert res.ok, res.detail
