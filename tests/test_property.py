"""Property tests: random corpora -> engine BM25 top-k == brute-force oracle;
adversarial tie-heavy corpora for the pruned index path."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from knowledgeir_spark.oracle.index import OracleIndex
from knowledgeir_spark.oracle.retrieval import OracleScorer


# --- pure-python properties (fast, many examples) -------------------------

words = st.sampled_from(["a", "bb", "ccc", "dd", "e", "fff", "gg", "hhh"])
texts = st.lists(words, min_size=0, max_size=30).map(" ".join)


@settings(max_examples=150, deadline=None)
@given(st.lists(texts, min_size=1, max_size=15), texts)
def test_oracle_topk_is_exhaustive_ranking(docs, query):
    """topk == head of the full candidate ranking under the quantized key."""
    o = OracleIndex(list(enumerate(docs)))
    scores = o.score_all(query, "bm25")
    from knowledgeir_spark.oracle.retrieval import rank_key

    full = sorted(scores.items(), key=lambda kv: (-rank_key(kv[1]), kv[0]))
    assert o.topk(query, k=5) == full[:5]


@settings(max_examples=150, deadline=None)
@given(st.lists(texts, min_size=1, max_size=10), texts)
def test_bm25_score_nonnegative_and_monotone_doc_subset(docs, query):
    o = OracleIndex(list(enumerate(docs)))
    for d, s in o.score_all(query, "bm25").items():
        assert s >= 0.0  # log(max(.,1)) clamp (retrieval_model.py:264)


@settings(max_examples=100, deadline=None)
@given(
    st.dictionaries(words, st.integers(1, 5), min_size=1, max_size=5),
    st.dictionaries(words, st.integers(1, 9), min_size=0, max_size=8),
)
def test_scorer_coordinate_bounds(q_lm, d_lm):
    s = OracleScorer(q_lm, d_lm, {}, 10.0, 5.0)
    assert 0 <= s.coordinate() <= len(q_lm)
    assert s.bool_or() == (1 if s.coordinate() else 0)
    assert s.bool_and() == (1 if s.coordinate() == len(q_lm) else 0)


# --- Spark engine vs oracle on random corpora (few, slower examples) ------


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**31 - 1))
def test_engine_fullscan_matches_oracle_random(spark, seed):
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(0, 40)).tolist()))
        for i in range(40)
    ]
    queries = [
        (str(j + 1), " ".join(rng.choice(vocab, size=rng.integers(1, 4)).tolist()))
        for j in range(3)
    ]
    from knowledgeir_spark.functions.text import doc_terms
    from knowledgeir_spark.operators.corpus_stats import (
        doc_stats, field_stats, term_stats,
    )
    from knowledgeir_spark.operators.retrieval import search

    sdocs = spark.createDataFrame(docs, "doc_id long, text string")
    dt = doc_terms(sdocs)
    ts = term_stats(dt)
    fs = field_stats(doc_stats(dt, docs_df=sdocs))
    qdf = spark.createDataFrame(queries, "qid string, query string")
    ranked = search(qdf, dt, ts, fs.total_df, fs.avg_doc_len, k=10).collect()
    got: dict[str, list] = {}
    for r in ranked:
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    o = OracleIndex(docs)
    for qid, qtext in queries:
        expected = o.topk(qtext, k=10)
        have = sorted(got.get(qid, []))
        assert [(d) for _, d, _ in have] == [d for d, _ in expected], (seed, qtext)
        for (_, d, s), (_, es) in zip(have, expected):
            assert s == pytest.approx(es, abs=1e-6)


def test_pruned_index_on_tie_heavy_corpus(spark, tmp_path):
    """100 identical docs + fillers: ties straddle the k boundary, so the
    pruning threshold must keep quantized-equal docs and break by doc_id."""
    from knowledgeir_spark.index.build import IndexConfig, build_index
    from knowledgeir_spark.index.query import IndexReader

    docs = [(i, "alpha beta gamma") for i in range(100)]
    docs += [(100 + i, "alpha " + " ".join(["filler"] * (i + 1))) for i in range(20)]
    sdocs = spark.createDataFrame(docs, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_index(
        spark, sdocs, idx,
        IndexConfig(block_size=8, salt_range=16, n_buckets=4), "ties",
    )
    reader = IndexReader(spark, idx)
    o = OracleIndex(docs)
    for query in ("alpha", "alpha beta", "gamma filler"):
        for prune in (False, True):
            ranked = reader.search([("1", query)], k=20, model="bm25", prune=prune)
            have = [(r["rank"], r["doc_id"]) for r in ranked.collect()]
            expected = [(i + 1, d) for i, (d, _) in enumerate(o.topk(query, k=20))]
            assert sorted(have) == expected, (query, prune)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**31 - 1))
def test_serving_scorers_match_oracle_random(spark, tmp_path_factory, seed):
    """Random corpora: the serving path's pruned kernel == oracle on every
    query, both over one group spanning the slice and over the per-salt
    split, including tie-heavy and zero-idf-term cases (vocab of 12 over
    120 docs makes df > N/2 common)."""
    from knowledgeir_spark.index.build import IndexConfig, build_index
    from knowledgeir_spark.index.query import IndexReader

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(0, 25)).tolist()))
        for i in range(120)
    ]
    queries = [
        (str(j + 1), " ".join(rng.choice(vocab, size=rng.integers(1, 4)).tolist()))
        for j in range(4)
    ]
    sdocs = spark.createDataFrame(docs, "doc_id long, text string")
    idx = str(tmp_path_factory.mktemp("propidx"))
    build_index(
        spark, sdocs, idx,
        IndexConfig(block_size=8, salt_range=32, n_buckets=4), f"prop{seed}",
    )
    reader = IndexReader(spark, idx)
    o = OracleIndex(docs)

    def check(rows, tag):
        got: dict[str, list] = {}
        for qid, doc_id, score, rank in rows:
            got.setdefault(qid, []).append((rank, doc_id, score))
        for qid, qtext in queries:
            expected = o.topk(qtext, k=15)
            have = sorted(got.get(qid, []))
            assert [d for _, d, _ in have] == [d for d, _ in expected], \
                (tag, seed, qtext)
            for (_, d, s), (_, es) in zip(have, expected):
                assert s == pytest.approx(es, abs=1e-6), (tag, seed, qtext, d)

    # one group over the whole slice (default routing at this span)
    check(reader.search_local(queries, k=15), "dense")
    # force the per-salt split by shrinking the one-group ceiling:
    # salt_range=32 over 120 docs gives 4 salt groups
    reader._DENSE_MAX_DOCS = 0
    check(reader.search_local(queries, k=15), "per-salt")
