"""Milestone-2 gate: the real inverted index.

- decoded posting shards == oracle's {term: [(doc_id, tf)]} exactly
- term_stats/field_stats == oracle
- index search (pruned and unpruned) rank-identical to oracle and to the
  full-scan DataFrame path
- lineage: rebuild skips all committed stages; config change or crashed
  (manifest-less) stage recomputes exactly that stage
"""

from __future__ import annotations

import os
import shutil

import pytest

from knowledgeir_spark.index.build import (
    IndexConfig, build_index, read_live, term_bucket_py,
)
from knowledgeir_spark.index.codec import decode_block
from knowledgeir_spark.index.query import IndexReader
from knowledgeir_spark.oracle.index import OracleIndex
from knowledgeir_spark.oracle.tokenizer import tokenize_query

CFG = IndexConfig(block_size=16, salt_range=64, n_buckets=8, build_partitions=8)


@pytest.fixture(scope="module")
def built(spark, webpages_pdf, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("index"))
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    # one indexed term holding '/', which the doc tokenizer keeps
    pdf.loc[7, "text"] += " tcp/ip"
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    results = build_index(spark, docs, idx_dir, CFG, input_token="webpages300")
    oracle = OracleIndex(list(zip(pdf["doc_id"], pdf["text"])))
    return dict(idx_dir=idx_dir, docs=docs, results=results, oracle=oracle, pdf=pdf)


def test_stages_committed(built):
    assert set(built["results"]) == {"doc_terms", "postings", "term_stats"}
    for r in built["results"].values():
        assert not r.skipped
        assert r.rows > 0
        assert r.files, r.stage


def test_postings_decode_to_oracle(spark, built):
    rows = read_live(spark, built['idx_dir'], "postings").collect()
    got: dict[str, list] = {}
    for r in rows:
        assert r["bucket"] == term_bucket_py(r["term"], CFG.n_buckets)
        ids, tfs, dls = decode_block(r)
        assert r["n_docs"] == len(ids) <= CFG.block_size
        assert r["max_tf"] == int(tfs.max())
        assert r["min_doc_len"] == int(dls.min())
        assert list(ids) == sorted(ids)
        for i, tf, dl in zip(ids, tfs, dls):
            assert i // CFG.salt_range == r["salt"]
            got.setdefault(r["term"], []).append((int(i), int(tf), int(dl)))
    o = built["oracle"]
    expected = {
        t: [(d, tf, o.doc_len[d]) for d, tf in p] for t, p in o.postings.items()
    }
    assert set(got) == set(expected)
    for t in expected:
        assert sorted(got[t]) == expected[t], t


def test_term_stats_match_oracle(spark, built):
    rows = read_live(spark, built['idx_dir'], "term_stats").collect()
    o = built["oracle"]
    assert {r["term"]: r["df"] for r in rows} == {t: int(v) for t, v in o.df.items()}
    cf = {r["term"]: r["cf"] for r in rows}
    for t, plist in o.postings.items():
        assert cf[t] == sum(tf for _, tf in plist)


def test_field_stats(built, spark):
    rd = IndexReader(spark, built["idx_dir"])
    o = built["oracle"]
    assert rd.field_stats["n_docs"] == o.total_df
    assert rd.field_stats["avg_doc_len"] == pytest.approx(o.avg_doc_len, abs=1e-12)


@pytest.mark.parametrize("model", ["bm25", "lm", "lm_dir", "tf_idf", "coordinate", "cosine"])
@pytest.mark.parametrize("prune", [False, True])
def test_index_search_rank_identical(spark, built, queries_pdf, model, prune):
    """search() and search_local against the oracle, per model and prune."""
    rd = IndexReader(spark, built["idx_dir"])
    queries = [(r.qid, r.query) for r in queries_pdf.itertuples()]
    dist = [
        (r["qid"], r["doc_id"], r["score"], r["rank"])
        for r in rd.search(queries, k=20, model=model, prune=prune).collect()
    ]
    local = rd.search_local(queries, k=20, model=model, prune=prune)
    o = built["oracle"]
    for path, rows in (("search", dist), ("search_local", local)):
        got: dict[str, list] = {}
        for qid, doc_id, score, rank in rows:
            got.setdefault(qid, []).append((rank, doc_id, score))
        for qid, qtext in queries:
            expected = o.topk(qtext, k=20, model=model)
            have = sorted(got.get(qid, []))
            assert len(have) == len(expected), f"{path} qid={qid}"
            for (rank, doc_id, score), (edoc, escore) in zip(have, expected):
                assert doc_id == edoc, (
                    f"{path} qid={qid} rank={rank} model={model} prune={prune}"
                )
                assert score == pytest.approx(escore, abs=1e-6)


def test_search_groups_split_into_record_batches(spark, built, queries_pdf):
    """With 2-row Arrow record batches every (qid, salt) group reaches the
    scoring function as a table of many chunks; search() still equals the
    oracle."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        rd = IndexReader(spark, built["idx_dir"])
        queries = [(r.qid, r.query) for r in queries_pdf.itertuples()]
        ranked = rd.search(queries, k=20).collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    got: dict[str, list] = {}
    for r in ranked:
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    o = built["oracle"]
    for qid, qtext in queries:
        expected = o.topk(qtext, k=20)
        have = sorted(got.get(qid, []))
        assert [d for _, d, _ in have] == [d for d, _ in expected], qid
        assert [s for _, _, s in have] == pytest.approx(
            [s for _, s in expected], abs=1e-6
        ), qid


def test_resume_skips_committed_stages(spark, built):
    res2 = build_index(
        spark, built["docs"], built["idx_dir"], CFG, input_token="webpages300"
    )
    assert all(r.skipped for r in res2.values())


def test_crashed_stage_recomputed(spark, built):
    import os

    # simulate crash between data rename and manifest write for term_stats
    os.remove(f"{built['idx_dir']}/_lineage/term_stats.json")
    res = build_index(
        spark, built["docs"], built["idx_dir"], CFG, input_token="webpages300"
    )
    assert res["doc_terms"].skipped and res["postings"].skipped
    assert not res["term_stats"].skipped
    assert res["term_stats"].rows > 0
    # field_stats.json re-committed: it lists the recomputed files
    o = built["oracle"]
    assert IndexReader(spark, built["idx_dir"]).term_stats_for(sorted(o.df)) \
        == {t: float(v) for t, v in o.df.items()}


def test_config_change_recomputes(spark, built, tmp_path_factory):
    # changed fingerprint (different input token) must not reuse snapshots
    res = build_index(
        spark, built["docs"], built["idx_dir"], CFG, input_token="OTHER"
    )
    assert not any(r.skipped for r in res.values())


def test_bmw_serving_rank_identical(spark, built, queries_pdf):
    """The serving path's pruned bm25 kernel (block-max MaxScore over one
    group spanning the whole slice) == oracle, including exact
    quantized-score ties."""
    rd = IndexReader(spark, built["idx_dir"])
    o = built["oracle"]
    queries = [(r.qid, r.query) for r in queries_pdf.itertuples()]
    # block_size=16 over 300 docs -> head terms span many blocks
    rows = rd.search_local(queries, k=20, model="bm25", prune=True)
    got: dict[str, list] = {}
    for qid, doc_id, score, rank in rows:
        got.setdefault(qid, []).append((rank, doc_id, score))
    for qid, qtext in queries:
        expected = o.topk(qtext, k=20, model="bm25")
        have = sorted(got.get(str(qid), []))
        assert len(have) == len(expected), f"qid={qid}"
        for (rank, doc_id, score), (edoc, escore) in zip(have, expected):
            assert doc_id == edoc, f"qid={qid} rank={rank}"
            assert score == pytest.approx(escore, abs=1e-6)


def _term_tables(rows: list[dict]) -> dict:
    """encode_block rows tagged with a term -> {term: Arrow table of its
    block rows, in row order}: the kernels' input shape."""
    import pyarrow as pa

    by_term: dict[str, list[dict]] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    return {t: pa.Table.from_pylist(rs) for t, rs in by_term.items()}


def test_bmw_skips_block_decodes():
    """The pruned kernel must decode only a small fraction of a head term's
    blocks once a selective term sets the threshold — and still return
    exactly what the decode-everything scorer returns.  Doc ids start at
    5e9, so the kernel's doc-id base (not the id itself) indexes its
    accumulators."""
    import numpy as np

    from knowledgeir_spark.index import codec, query as Q
    from knowledgeir_spark.index.codec import encode_block

    rows = []
    # head term "mid": 20k postings (tf=1, dl=20) in 128-posting blocks
    shift = 5_000_000_000
    mid_docs = np.arange(0, 40000, 2, dtype=np.uint64) + shift
    for bi, s in enumerate(range(0, len(mid_docs), 128)):
        ids = mid_docs[s:s + 128]
        blk = encode_block(ids, np.ones(len(ids)), np.full(len(ids), 20))
        blk.update(term="mid")
        rows.append(blk)
    # selective term "rare": 10 high-tf short docs (rare-only, no overlap)
    rare_docs = np.arange(1, 20001, 2000, dtype=np.uint64) + shift
    blk = encode_block(rare_docs, np.full(10, 5), np.full(10, 10))
    blk.update(term="rare")
    rows.append(blk)
    blocks = _term_tables(rows)

    q_terms = {"1": [
        {"term": "rare", "term_idx": 0, "q_tf": 1, "df": 10.0},
        {"term": "mid", "term_idx": 1, "q_tf": 1, "df": 20000.0},
    ]}
    n, avgdl, k = 100000.0, 20.0, 5

    n_decoded = {"n": 0}
    orig = codec.decode_blocks_concat

    def counting(*a, **kw):
        n_decoded["n"] += len(a[3])  # blocks in this decode call
        return orig(*a, **kw)

    # the kernels decode through codec.decode_table, which calls this name
    codec.decode_blocks_concat = counting
    try:
        res_ids, res_scores, _ = Q._score_group_dense(
            "1", blocks, q_terms, n, avgdl, k, cache=None,
        )
    finally:
        codec.decode_blocks_concat = orig
    decoded_blocks = n_decoded["n"]
    assert decoded_blocks > 0
    assert decoded_blocks < len(rows) * 0.2, (decoded_blocks, len(rows))

    brute_ids, brute_scores = Q._score_group("1", blocks, q_terms, n, avgdl, "bm25", k)
    assert list(res_ids) == list(brute_ids)
    assert min(res_ids) >= shift
    assert np.allclose(res_scores, brute_scores)


def test_dense_scorer_matches_union_scorer():
    """Dense-accumulator serving scorer == decode-everything scorer on a
    synthetic corpus, including (a) zero-idf head terms (df > N/2: skipped
    for scoring, lazily decoded for candidacy) and (b) the all-ties case
    where k exceeds the positive-score docs so zero-score candidates fill
    the tail in doc_id order."""
    import numpy as np

    from knowledgeir_spark.index import query as Q
    from knowledgeir_spark.index.codec import encode_block

    rows = []
    # "head": df 700 of N=1000 -> idf clamps to 0
    head_docs = np.arange(0, 700, dtype=np.uint64)
    for s in range(0, 700, 128):
        ids = head_docs[s:s + 128]
        blk = encode_block(ids, np.ones(len(ids)), np.full(len(ids), 15))
        blk.update(term="head")
        rows.append(blk)
    # "rare": 7 docs, positive idf
    rare_docs = np.array([5, 100, 333, 334, 500, 650, 800], dtype=np.uint64)
    blk = encode_block(rare_docs, np.array([2, 1, 3, 1, 1, 2, 1]),
                       np.array([10, 20, 15, 15, 30, 10, 25]))
    blk.update(term="rare")
    rows.append(blk)
    blocks = _term_tables(rows)
    q_terms = {"1": [
        {"term": "head", "term_idx": 0, "q_tf": 1, "df": 700.0},
        {"term": "rare", "term_idx": 1, "q_tf": 1, "df": 7.0},
    ]}
    n, avgdl = 1000.0, 18.0
    for k in (5, 7, 50):  # 50 > positive-score docs -> zero-tie fallback
        dense_ids, dense_scores, _ = Q._score_group_dense(
            "1", blocks, q_terms, n, avgdl, k,
        )
        brute_ids, brute_scores = Q._score_group(
            "1", blocks, q_terms, n, avgdl, "bm25", k,
        )
        assert list(dense_ids) == list(brute_ids), k
        assert np.allclose(dense_scores, brute_scores), k


def test_dense_scorer_maxscore_skips_blocks():
    """The dense scorer's MaxScore phase must decode only the mid-idf head
    term's blocks that contain a candidate (most of its blocks drop once
    the selective term fixes the threshold) — and stay BIT-identical to
    the decode-everything scorer, doc_id ties included."""
    import numpy as np

    from knowledgeir_spark.index import query as Q
    from knowledgeir_spark.index.codec import encode_block

    rows = []
    # mid-idf head term: df 30k of N=100k -> idf ~ log(2.33) > 0, 235 blocks
    mid_docs = np.arange(0, 60000, 2, dtype=np.uint64)
    for s in range(0, len(mid_docs), 128):
        ids = mid_docs[s:s + 128]
        blk = encode_block(ids, np.ones(len(ids)), np.full(len(ids), 20))
        blk.update(term="mid")
        rows.append(blk)
    # selective term: 10 docs, high tf, spread across the id space
    rare_docs = np.arange(1, 100001, 10000, dtype=np.uint64)
    blk = encode_block(rare_docs, np.full(10, 5), np.full(10, 10))
    blk.update(term="rare")
    rows.append(blk)
    blocks = _term_tables(rows)

    q_terms = {"1": [
        {"term": "mid", "term_idx": 0, "q_tf": 1, "df": 30000.0},
        {"term": "rare", "term_idx": 1, "q_tf": 1, "df": 10.0},
    ]}
    n, avgdl, k = 100000.0, 20.0, 5

    dense_ids, dense_scores, stats = Q._score_group_dense(
        "1", blocks, q_terms, n, avgdl, k,
    )
    assert stats["n_essential"] == 1, stats
    assert stats["blocks_decoded"] < stats["blocks_total"] * 0.2, stats

    brute_ids, brute_scores = Q._score_group("1", blocks, q_terms, n, avgdl, "bm25", k)
    assert list(dense_ids) == list(brute_ids)
    assert list(dense_scores) == list(brute_scores)  # bit-identical


def test_dense_scorer_maxscore_no_skip_when_unsafe():
    """When every term has a comparable bound (no selective anchor), the
    MaxScore loop must decode everything — identical output, zero skips."""
    import numpy as np

    from knowledgeir_spark.index import query as Q
    from knowledgeir_spark.index.codec import encode_block

    rows = []
    for t, start in (("alpha", 0), ("beta", 1), ("gamma", 2)):
        docs = np.arange(start, 3000, 3, dtype=np.uint64)
        for s in range(0, len(docs), 128):
            ids = docs[s:s + 128]
            blk = encode_block(ids, np.ones(len(ids)), np.full(len(ids), 12))
            blk.update(term=t)
            rows.append(blk)
    blocks = _term_tables(rows)
    q_terms = {"1": [
        {"term": "alpha", "term_idx": 0, "q_tf": 1, "df": 1000.0},
        {"term": "beta", "term_idx": 1, "q_tf": 1, "df": 1000.0},
        {"term": "gamma", "term_idx": 2, "q_tf": 1, "df": 1000.0},
    ]}
    n, avgdl, k = 10000.0, 12.0, 10
    dense_ids, dense_scores, stats = Q._score_group_dense(
        "1", blocks, q_terms, n, avgdl, k,
    )
    assert stats["blocks_decoded"] == stats["blocks_total"], stats
    brute_ids, brute_scores = Q._score_group("1", blocks, q_terms, n, avgdl, "bm25", k)
    assert list(dense_ids) == list(brute_ids)
    assert list(dense_scores) == list(brute_scores)


def test_dense_scorer_single_term_block_cut():
    """Single scored-term queries (the 2M-doc serving tail: one mid-idf
    head term) must decode blocks in bound order and stop once the next
    block bound quantizes below the k-th best — identical output to the
    decode-everything scorer."""
    import numpy as np

    from knowledgeir_spark.index import query as Q
    from knowledgeir_spark.index.codec import encode_block

    rows = []
    docs = np.arange(0, 40000, 2, dtype=np.uint64)
    for bi, s in enumerate(range(0, len(docs), 128)):
        ids = docs[s:s + 128]
        tfs = np.ones(len(ids))
        dls = np.full(len(ids), 20)
        if bi == 37:  # one hot block: short docs with high tf
            tfs[:8] = 8
            dls[:8] = 10
        blk = encode_block(ids, tfs, dls)
        blk.update(term="solo")
        rows.append(blk)
    blocks = _term_tables(rows)
    q_terms = {"1": [{"term": "solo", "term_idx": 0, "q_tf": 1, "df": 20000.0}]}
    n, avgdl, k = 100000.0, 20.0, 5

    dense_ids, dense_scores, stats = Q._score_group_dense(
        "1", blocks, q_terms, n, avgdl, k,
    )
    assert stats["blocks_decoded"] < stats["blocks_total"] * 0.5, stats

    brute_ids, brute_scores = Q._score_group("1", blocks, q_terms, n, avgdl, "bm25", k)
    assert list(dense_ids) == list(brute_ids)
    assert list(dense_scores) == list(brute_scores)


def test_serving_decode_cache_identical_results(spark, built, queries_pdf):
    """The hot-term decoded-postings cache must be result-invisible: a
    repeated query (and a different query sharing terms) returns exactly
    the same rows as the cold run, and the cache actually gets hits."""
    from knowledgeir_spark.index.query import IndexReader

    rd = IndexReader(spark, built["idx_dir"])
    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()][:10]
    cold = [rd.search_local([q], k=20) for q in queries]
    assert rd.decode_cache.misses > 0
    warm = [rd.search_local([q], k=20) for q in queries]
    assert rd.decode_cache.hits > 0
    assert cold == warm
    # a fresh reader (empty cache) agrees too
    rd2 = IndexReader(spark, built["idx_dir"])
    assert [rd2.search_local([q], k=20) for q in queries] == cold


def test_prewarm_cache_and_identical_results(spark, built, queries_pdf):
    """prewarm() pre-decodes positive-idf head terms into the cache
    (result-invisible), so first-touch queries hit instead of decoding."""
    from knowledgeir_spark.index.query import IndexReader

    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()][:10]
    rd_cold = IndexReader(spark, built["idx_dir"])
    cold = [rd_cold.search_local([q], k=20) for q in queries]

    rd = IndexReader(spark, built["idx_dir"])
    stats = rd.prewarm(n_terms=64)
    assert stats["terms_warmed"] > 0
    assert stats["postings_cached"] > 0
    pre_hits, pre_misses = rd.decode_cache.hits, rd.decode_cache.misses
    warm = [rd.search_local([q], k=20) for q in queries]
    assert warm == cold
    assert rd.decode_cache.hits > pre_hits  # prewarmed terms were reused
    # prewarm is idempotent and never evicts what it just decoded
    again = rd.prewarm(n_terms=64)
    assert again["terms_warmed"] == 0


def test_reader_opens_and_serves_without_spark_job(spark, built, queries_pdf):
    """Opening a reader, term_stats_for over the whole vocabulary, prewarm
    and a search_local run no Spark job (the scan DataFrame is lazy).  The
    dfs equal term_stats collected through Spark, and search() — the
    first user of the lazy postings DataFrame — still ranks identically
    to the oracle."""
    sc = spark.sparkContext
    group = "reader-open-no-spark"
    o = built["oracle"]
    sc.setJobGroup(group, "reader open")
    try:
        rd = IndexReader(spark, built["idx_dir"])
        dfs = rd.term_stats_for(sorted(o.df))
        rd.prewarm(n_terms=16)
        rows = rd.search_local([("1", "the data spark w0005")], k=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert not sc.statusTracker().getJobIdsForGroup(group)

    want = {
        r["term"]: float(r["df"])
        for r in read_live(spark, built['idx_dir'], "term_stats").collect()
    }
    assert dfs == want
    assert all(type(v) is float for v in dfs.values())

    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()][:5]
    ranked = rd.search(queries, k=20).collect()
    got: dict[str, list] = {}
    for r in sorted(ranked, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in queries:
        expected = o.topk(qtext, k=20)
        assert [d for d, _ in got.get(qid, [])] == [d for d, _ in expected], qid
        for (_, s), (_, es) in zip(got.get(qid, []), expected):
            assert s == pytest.approx(es, abs=1e-6)


@pytest.fixture(scope="module")
def built_impact(spark, built, tmp_path_factory):
    """The `built` corpus under block_order='impact'."""
    idx_dir = str(tmp_path_factory.mktemp("index_impact"))
    cfg = IndexConfig(**{**CFG.fingerprint_dict(), "block_order": "impact"})
    build_index(spark, built["docs"], idx_dir, cfg, input_token="webpages300")
    return idx_dir


def test_impact_layout_rank_identical_and_discriminative(
    spark, built, built_impact, queries_pdf
):
    """block_order='impact' must return EXACTLY the docid layout's results
    (both paths, all queries) while making block score bounds strictly
    decline within each (term, salt) group — the property that lets the
    serving bound-cut skip blocks on Zipf corpora."""
    idx_dir = built_impact
    rd_i = IndexReader(spark, idx_dir)
    assert rd_i.block_order == "impact"
    rd_d = IndexReader(spark, built["idx_dir"])
    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()]
    for q in queries:
        assert rd_i.search_local([q], k=15) == rd_d.search_local([q], k=15), q
    a = rd_i.search(queries[:5], k=15).collect()
    b = rd_d.search(queries[:5], k=15).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # bound discrimination: for the head term, per-(salt) max_tf declines
    # with block_id under impact order but not under docid order
    from pyspark.sql import functions as F

    post = read_live(spark, idx_dir, "postings")
    head_term = (
        post.groupBy("term").count().orderBy(F.desc("count"), "term")
        .first()["term"]
    )
    head = (
        post.filter(F.col("term") == head_term)
        .select("salt", "block_id", "max_tf")
        .orderBy("salt", "block_id")
        .toPandas()
    )
    assert len(head) > 3
    declines = 0
    for _, g in head.groupby("salt"):
        mt = g["max_tf"].to_numpy()
        assert all(mt[i] >= mt[i + 1] for i in range(len(mt) - 1)), mt
        declines += int(len(mt) > 1 and mt[0] > mt[-1])
    assert declines > 0  # bounds actually discriminate, not just equal


def _edge_queries(oracle) -> list[tuple[str, str]]:
    vocab = sorted(oracle.postings)
    by_bucket: dict[int, list[str]] = {}
    for t in vocab:
        by_bucket.setdefault(term_bucket_py(t, CFG.n_buckets), []).append(t)
    # each bucket directory's first and last entry
    ends = [(f"b{b}_{end}", ts[i]) for b, ts in sorted(by_bucket.items())
            for end, i in (("first", 0), ("last", -1))]
    stem = next(t for t in vocab if len(t) > 2 and t[:-1] not in oracle.df
                and t + "x" not in oracle.df)
    return [
        ("empty", ""),
        ("blank", " \t  "),
        ("oov", "zzqxjv qqvvkw"),
        ("stopwords", "the of and a"),
        ("punct", "!!! ... ,;: ??"),
        ("long", " ".join((vocab * 200)[:200])),
        ("repeat", "web web web page"),
        *ends,
        # sorts before / after every directory entry
        ("before", "! data"),
        ("after", "~ data"),
        ("prefix", f"{stem[:-1]} web"),
        ("extended", f"{stem}x web"),
        ("slash", next(t for t in vocab if "/" in t)),
        # query terms the doc tokenizer never indexes
        ("nonascii", "café 東京 data"),
    ]


@pytest.mark.parametrize("layout", ["docid", "impact"])
def test_edge_queries_match_oracle(spark, built, built_impact, layout):
    """Empty, blank, OOV-only, stopword-only, punctuation-only, 200-term and
    repeated-term queries, each term directory's first and last entry,
    terms sorting before and after every entry, a prefix and an extension
    of an indexed term, a term holding '/', non-ASCII terms, and an empty
    query list: search_local == search == oracle on both block layouts,
    and term_stats_for gives the oracle's df, absent terms absent."""
    rd = IndexReader(spark, built_impact if layout == "impact" else built["idx_dir"])
    o = built["oracle"]
    queries = _edge_queries(o)
    assert rd.search_local([], k=10) == []
    assert rd.search([], k=10).collect() == []
    terms = sorted({t for _, q in queries for t in tokenize_query(q)})
    assert rd.term_stats_for(terms) == {t: o.df[t] for t in terms if t in o.df}

    local: dict[str, list] = {}
    for qid, doc_id, score, rank in rd.search_local(queries, k=10):
        local.setdefault(qid, []).append((rank, doc_id, score))
    dist: dict[str, list] = {}
    for r in rd.search(queries, k=10).collect():
        dist.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext in queries:
        expected = o.topk(qtext, k=10)
        for got in (local, dist):
            have = sorted(got.get(qid, []))
            assert [d for _, d, _ in have] == [d for d, _ in expected], qid
            assert [s for _, _, s in have] == pytest.approx(
                [s for _, s in expected], abs=1e-6
            ), qid
    assert local["long"] and local["repeat"]


def test_reader_refuses_non_varint_index(spark, built, tmp_path):
    """An index whose field_stats.json records another posting codec (a
    pfor index from before the format went varint-only) is refused with a
    rebuild message, by readers and by maintenance calls alike."""
    import json
    import shutil

    from knowledgeir_spark.index.compact import compact

    idx = str(tmp_path / "pfor_idx")
    shutil.copytree(built["idx_dir"], idx)
    fs_path = f"{idx}/field_stats.json"
    with open(fs_path) as f:
        fs = json.load(f)
    fs["codec"] = "pfor"
    with open(fs_path, "w") as f:
        json.dump(fs, f)
    with pytest.raises(ValueError, match="rebuild"):
        IndexReader(spark, idx)
    with pytest.raises(ValueError, match="rebuild"):
        compact(spark, idx, CFG)


def test_dense_scorer_candidate_filter_narrows_fillin():
    """MaxScore step 2 (candidate filter): candidates whose upper bound
    (exact essential partial + remaining term bounds) quantizes strictly
    below the running k-th partial are dropped BEFORE fill-in, so the
    fill-in decodes only blocks holding surviving candidates — fewer
    blocks at smaller k — while staying bit-identical to the
    decode-everything scorer."""
    import numpy as np

    from knowledgeir_spark.index import query as Q
    from knowledgeir_spark.index.codec import encode_block

    rows = []
    # selective anchor: 10 docs, strongly spread tfs, spread across id space
    a_docs = np.arange(1, 100001, 10000, dtype=np.uint64)
    blk = encode_block(a_docs, np.arange(5, 15), np.full(10, 20))
    blk.update(term="anchor")
    rows.append(blk)
    # two mid terms covering only the low half of the id space
    for t, start in (("mid1", 0), ("mid2", 1)):
        docs = np.arange(start, 60000, 2, dtype=np.uint64)
        for s in range(0, len(docs), 128):
            ids = docs[s:s + 128]
            b = encode_block(ids, np.ones(len(ids)), np.full(len(ids), 20))
            b.update(term=t)
            rows.append(b)
    blocks = _term_tables(rows)
    q_terms = {"1": [
        {"term": "anchor", "term_idx": 0, "q_tf": 1, "df": 10.0},
        {"term": "mid1", "term_idx": 1, "q_tf": 1, "df": 30000.0},
        {"term": "mid2", "term_idx": 2, "q_tf": 1, "df": 30000.0},
    ]}
    n, avgdl = 100000.0, 20.0

    decoded = {}
    for k in (3, 10):
        dense_ids, dense_scores, stats = Q._score_group_dense(
            "1", blocks, q_terms, n, avgdl, k,
        )
        decoded[k] = stats["blocks_decoded"]
        brute_ids, brute_scores = Q._score_group(
            "1", blocks, q_terms, n, avgdl, "bm25", k,
        )
        assert list(dense_ids) == list(brute_ids), k
        assert list(dense_scores) == list(brute_scores), k
    total = stats["blocks_total"]
    # k=3 keeps only the top-tf anchor docs (all in the mid-free id half):
    # the fill-in decodes nothing beyond the anchor block
    assert decoded[3] < decoded[10] <= total * 0.1, (decoded, total)


def test_reader_suggest_matches_spark_operator(spark, built):
    """IndexReader.suggest (driver-side delete-key index over the term
    directory) and the distributed spell_correct operator must implement
    the same spec over the same vocabulary."""
    from pyspark.sql import functions as F

    from knowledgeir_spark.operators.spell import spell_correct

    rd = IndexReader(spark, built["idx_dir"])
    vocab = read_live(spark, built['idx_dir'], "term_stats").select("term", "df")
    # derive typo inputs from real vocab terms (drop 3rd char) + controls
    terms = [r["term"] for r in vocab.orderBy(F.col("df").desc()).limit(8).collect()]
    inputs = [t[:2] + t[3:] for t in terms if len(t) >= 5] + ["zzzzqq", terms[0]]
    want_rows = spell_correct(
        spark.createDataFrame([(t,) for t in inputs], "input string"), vocab
    ).collect()
    want = {r["input"]: (r["suggestion"], r["ed"], float(r["sugg_df"]))
            for r in want_rows}
    got = rd.suggest(inputs)
    assert got == want
    assert want[terms[0]][1] == 0  # in-vocab passes through at ed 0


def test_reader_serves_without_term_stats(spark, built, queries_pdf, tmp_path):
    """The reader takes every df from its term directory and opens no
    term_stats file: on a copy of the index without term_stats/,
    term_stats_for (the whole vocabulary), search_local, search(), prewarm
    and suggest equal the oracle and a reader on the intact index."""
    idx_dir = str(tmp_path / "idx")
    shutil.copytree(built["idx_dir"], idx_dir)
    shutil.rmtree(os.path.join(idx_dir, "term_stats"))
    rd = IndexReader(spark, idx_dir)
    intact = IndexReader(spark, built["idx_dir"])
    o = built["oracle"]
    assert rd.term_stats_for(sorted(o.df) + ["zzqxjv"]) == o.df

    warmed = [r.prewarm(n_terms=64) for r in (rd, intact)]
    assert [w["terms_warmed"] for w in warmed] == [64, 64]
    assert warmed[0]["postings_cached"] == warmed[1]["postings_cached"]
    assert list(rd.decode_cache._d) == list(intact.decode_cache._d)

    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()]
    for q in queries:
        got = rd.search_local([q], k=10)
        assert got == intact.search_local([q], k=10), q
        want = o.topk(q[1], k=10)
        assert [r[1] for r in got] == [d for d, _ in want], q
        assert [r[2] for r in got] == pytest.approx([s for _, s in want], abs=1e-6)
    dist = sorted(map(tuple, rd.search(queries[:5], k=10).collect()))
    assert dist == sorted(map(tuple, intact.search(queries[:5], k=10).collect()))

    head = sorted(o.df, key=lambda t: (-o.df[t], t))[:20]
    inputs = [t[:2] + t[3:] for t in head if len(t) >= 5] + ["zzzzqq", head[0]]
    assert rd.suggest(inputs) == intact.suggest(inputs)
    assert rd.suggest([head[0]])[head[0]] == (head[0], 0, o.df[head[0]])


def test_sharded_reader_rank_identical_to_monolith(spark, built, tmp_path_factory):
    """Two shards (doc_id split) searched via ShardedReader with global
    stats must return EXACTLY the monolithic index's top-k — ids, scores,
    ranks — for every query in the suite."""
    from knowledgeir_spark.index.query import ShardedReader

    base = tmp_path_factory.mktemp("shards")
    docs = built["docs"]
    cut = 150
    dirs = []
    for i, part in enumerate(
        [docs.filter(f"doc_id < {cut}"), docs.filter(f"doc_id >= {cut}")]
    ):
        d = str(base / f"shard{i}")
        build_index(spark, part, d, CFG, input_token=f"shard{i}")
        dirs.append(d)

    mono = IndexReader(spark, built["idx_dir"])
    sharded = ShardedReader(spark, dirs)
    assert sharded.n_docs == float(mono.field_stats["n_docs"])
    assert abs(sharded.avg_doc_len - float(mono.field_stats["avg_doc_len"])) < 1e-9

    queries = [("1", "spark data"), ("2", "the with for"), ("3", "zzznope"),
               ("4", "a of and to in")]
    for prune in (True, False):
        want = mono.search_local(queries, k=10, prune=prune)
        got = sharded.search_local(queries, k=10, prune=prune)
        # identical ranking (ids + ranks); scores equal to 1e-9 (the two
        # sides may route different scorer kernels per shard)
        assert [(q, d, r) for q, d, _s, r in got] == [
            (q, d, r) for q, d, _s, r in want
        ]
        for (_, _, sg, _), (_, _, sw, _) in zip(got, want):
            assert abs(sg - sw) < 1e-9


def test_docstore_snippets_match_operator(spark, built):
    """Serving-side snippet rendering from the bucket-pruned docstore must
    equal the distributed best_snippets operator row-for-row (same spec,
    two implementations)."""
    import re

    from knowledgeir_spark.index.docstore import DocStore, write_docstore
    from knowledgeir_spark.operators.snippet import best_snippets

    d = built["idx_dir"]
    write_docstore(built["docs"], d, n_buckets=8)
    rd = IndexReader(spark, d)
    queries = [("1", "spark data table"), ("2", "the with for"), ("3", "zzznope")]
    res = rd.search_local(queries, k=5)
    got = sorted(DocStore(d, n_buckets=8).snippets(queries, res))

    spark_rows = [(int(q), int(doc)) for q, doc, _s, _r in res]
    cand = spark.createDataFrame(spark_rows, "qid long, doc_id long")
    qt = spark.createDataFrame(
        [(int(q), t) for q, qtext in queries
         for t in re.findall(r"[a-z0-9]+", qtext.lower())],
        "qid long, term string",
    )
    want = sorted(
        (str(r["qid"]), r["doc_id"], r["start_pos"], r["n_matches"], r["snippet"])
        for r in best_snippets(built["docs"], qt, cand).collect()
    )
    assert got == want
    assert len(got) > 0


def test_sharded_suggest_sums_global_df(spark, built, tmp_path_factory):
    """ShardedReader.suggest ranks by the UNION df: a term split across
    shards must carry the summed prior."""
    from knowledgeir_spark.index.query import ShardedReader

    base = tmp_path_factory.mktemp("sshards")
    docs = built["docs"]
    dirs = []
    for i, part in enumerate(
        [docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")]
    ):
        d = str(base / f"s{i}")
        build_index(spark, part, d, CFG, input_token=f"sg{i}")
        dirs.append(d)
    sh = ShardedReader(spark, dirs)
    mono = IndexReader(spark, built["idx_dir"])
    # pick a real vocab term, misspell it, and require the same correction
    # with the same (global) df the monolith reports
    stats = read_live(spark, built['idx_dir'], "term_stats").orderBy(
        "df", ascending=False).limit(1).collect()[0]
    term, df = stats["term"], float(stats["df"])
    typo = term[:2] + term[3:] if len(term) >= 5 else term + "x"
    got = sh.suggest([typo, term])
    want = mono.suggest([typo, term])
    assert got == want
    assert got[term] == (term, 0, df)


def test_last_query_stats_surface(spark, built, queries_pdf):
    rd = IndexReader(spark, built["idx_dir"])
    queries = [(r.qid, r.query) for r in queries_pdf.itertuples()][:3]
    rd.search_local(queries, k=5)
    st = rd.last_query_stats()
    assert st["cache_budget"] > 0
    assert st["cache_hits"] + st["cache_misses"] >= 0
    assert {"cache_postings", "cache_terms"} <= set(st)


def test_last_query_stats_per_reader_across_threads(spark, built):
    """Query stats belong to the reader that ran the query: reader B's
    1-term query on another thread must not overwrite what reader A's
    3-term query reported."""
    import threading

    o = built["oracle"]
    n = o.total_df
    # positive-idf terms (df < N/2), so every one is a scored term
    pos = sorted((t for t, df in o.df.items() if 2 <= df < n / 3),
                 key=lambda t: (-o.df[t], t))
    a = IndexReader(spark, built["idx_dir"])
    b = IndexReader(spark, built["idx_dir"])

    def run(reader, query):
        th = threading.Thread(
            target=reader.search_local, args=([("1", query)],), kwargs={"k": 5}
        )
        th.start()
        th.join()

    run(a, " ".join(pos[:3]))
    assert a.last_query_stats()["n_scored_terms"] == 3
    run(b, pos[3])
    assert b.last_query_stats()["n_scored_terms"] == 1
    assert a.last_query_stats()["n_scored_terms"] == 3


@pytest.mark.parametrize("kw", [
    {"mode": "xor"}, {"exclude": {"1": ["zzznope"]}}, {"model": "bm99"},
])
def test_search_rejects_unknown_choices(spark, built, kw):
    """An unknown mode or model, or exclude without mode='and', raises
    ValueError up front instead of silently running OR, returning [] or
    failing inside a Spark task."""
    rd = IndexReader(spark, built["idx_dir"])
    queries = [("1", "zzznope")]  # OOV: nothing to score, no task to fail
    with pytest.raises(ValueError, match=next(iter(kw))):
        rd.search(queries, k=5, **kw)
    with pytest.raises(ValueError, match=next(iter(kw))):
        rd.search_local(queries, k=5, **kw)
