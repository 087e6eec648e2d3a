"""search() as one mapInArrow job over salt-range tasks.

Gate: on an index with 10 salt ranges (salt_range=32 over 300 docs), so
that search() runs defaultParallelism (4) tasks of several salt ranges
each, search() equals search_local and the oracle for every model (bm25
pruned and unpruned), for AND and AND with exclude, under both block
orders, with k larger than any hit set, and for OOV-only and
stopword-only batches.  The tasks' salt ranges hold every salt id exactly
once, and the result order is a total order on qids, the same at every
task count.
"""

from __future__ import annotations

import math
import uuid

import pyarrow.dataset as ds
import pytest
from pyspark import SparkContext

from knowledgeir_spark.index import scoring_np as S
from knowledgeir_spark.index.build import IndexConfig, build_index, live_files
from knowledgeir_spark.index.query import IndexReader, _salt_ranges
from knowledgeir_spark.oracle.index import OracleIndex
from knowledgeir_spark.oracle.tokenizer import tokenize_query

CFG = IndexConfig(block_size=16, salt_range=32, n_buckets=8, build_partitions=4)
N_SALTS = 10  # ceil(300 / 32)


@pytest.fixture(scope="module", params=["docid", "impact"])
def salted(request, spark, webpages_pdf, tmp_path_factory):
    """(index dir, oracle) of the 300-doc corpus under one block order."""
    order = request.param
    cfg = IndexConfig(**{**CFG.fingerprint_dict(), "block_order": order})
    idx_dir = str(tmp_path_factory.mktemp(f"salted_{order}"))
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    build_index(spark, spark.createDataFrame(pdf[["doc_id", "text"]]), idx_dir,
                cfg, input_token=f"salted_{order}")
    return idx_dir, OracleIndex(list(zip(pdf["doc_id"], pdf["text"])))


def _queries(queries_pdf):
    return [(str(r.qid), r.query) for r in queries_pdf.itertuples()]


def _by_qid(rows) -> dict[str, list[tuple[int, float, int]]]:
    out: dict[str, list] = {}
    for qid, doc_id, score, rank in rows:
        out.setdefault(qid, []).append((doc_id, score, rank))
    return out


def _check(rows, want):
    assert [d for d, _, _ in rows] == [d for d, _ in want]
    assert [s for _, s, _ in rows] == pytest.approx([s for _, s in want], abs=1e-6)
    assert [r for _, _, r in rows] == list(range(1, len(rows) + 1))


def _oracle_and(oracle, qtext, exclude, k, model="bm25"):
    terms = [t for t in dict.fromkeys(tokenize_query(qtext)) if t not in exclude]
    if not terms:
        return []
    docs = set.intersection(
        *({d for d, _ in oracle.postings.get(t, [])} for t in terms))
    for x in exclude:
        docs -= {d for d, _ in oracle.postings.get(x, [])}
    scores = oracle.score_all(" ".join(terms), model)
    return sorted(((d, scores[d]) for d in docs),
                  key=lambda ds: (-math.floor(ds[1] * 1e9), ds[0]))[:k]


def _search(spark, reader, queries, **kw) -> tuple[list[tuple], int]:
    """(search() rows, tasks its Spark jobs ran), under a job group of its
    own (unset afterwards)."""
    sc = spark.sparkContext
    group = f"search-tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "search tasks test")
    try:
        rows = [tuple(r) for r in reader.search(queries, **kw).collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return rows, sum(st.getStageInfo(s).numTasks
                     for j in st.getJobIdsForGroup(group)
                     for s in st.getJobInfo(j).stageIds)


def test_salt_ranges_partition_salt_ids(spark, salted):
    idx_dir, _ = salted
    salts = set(ds.dataset(live_files(idx_dir, "postings")).to_table(
        columns=["salt"])["salt"].to_pylist())
    assert salts == set(range(N_SALTS))
    for parallelism in (1, 2, 3, 4, 7, 64):
        ranges = _salt_ranges(N_SALTS, parallelism)
        assert len(ranges) == min(N_SALTS, parallelism)
        assert ranges[0][0] is None and ranges[-1][1] is None
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi == lo  # contiguous: no gap, no overlap
        for s in salts | {-5, N_SALTS + 100}:
            holders = [r for r in ranges
                       if (r[0] is None or s >= r[0]) and (r[1] is None or s < r[1])]
            assert len(holders) == 1, (s, ranges)
        # every task holds at least one salt id of the index
        assert all(any((lo is None or s >= lo) and (hi is None or s < hi)
                       for s in salts) for lo, hi in ranges)
    assert spark.sparkContext.defaultParallelism == 4
    assert len(_salt_ranges(N_SALTS, 4)) == 4


@pytest.mark.parametrize("model,prune", [("bm25", True), ("bm25", False)] + [
    (m, True) for m in S.MODELS if m != "bm25"])
def test_multi_task_search_equals_local_and_oracle(
    spark, salted, queries_pdf, model, prune
):
    idx_dir, oracle = salted
    rd = IndexReader(spark, idx_dir)
    queries = _queries(queries_pdf)
    rows, tasks = _search(spark, rd, queries, k=20, model=model, prune=prune)
    assert tasks == 4
    dist = _by_qid(rows)
    local = _by_qid(rd.search_local(queries, k=20, model=model, prune=prune))
    assert dist == local
    for qid, qtext in queries:
        _check(dist.get(qid, []), oracle.topk(qtext, k=20, model=model))


def test_multi_task_and_exclude_equals_local_and_oracle(spark, salted, queries_pdf):
    idx_dir, oracle = salted
    rd = IndexReader(spark, idx_dir)
    queries = _queries(queries_pdf)
    excl = {qid: tokenize_query(text)[-1:] for qid, text in queries[::3]}
    for exclude in (None, excl):
        dist = _by_qid(_search(spark, rd, queries, k=20, mode="and",
                               exclude=exclude)[0])
        assert dist == _by_qid(rd.search_local(queries, k=20, mode="and",
                                               exclude=exclude))
        for qid, qtext in queries:
            _check(dist.get(qid, []),
                   _oracle_and(oracle, qtext, (exclude or {}).get(qid, []), 20))
        assert any(dist.values())


def test_multi_task_edge_batches(spark, salted, queries_pdf):
    """k above every hit set, an OOV-only batch and a stopword-only
    batch."""
    idx_dir, oracle = salted
    rd = IndexReader(spark, idx_dir)
    queries = _queries(queries_pdf)
    k = 400  # > the 300 docs
    dist = _by_qid(_search(spark, rd, queries, k=k)[0])
    assert dist == _by_qid(rd.search_local(queries, k=k))
    for qid, qtext in queries:
        want = oracle.topk(qtext, k=k)
        assert len(want) < k
        _check(dist.get(qid, []), want)
    oov = [("1", "zzqxjv"), ("2", "qqvvkw zzqxjv")]
    stop = [("1", "the of and"), ("2", "a")]
    for batch in (oov, stop):
        assert rd.search(batch, k=10).collect() == []
        assert rd.search_local(batch, k=10) == []


def test_search_row_order_is_total(spark, salted, monkeypatch):
    """Numeric qids come first by value, then the rest by string: the same
    rows in the same order on repeated calls and at two task counts."""
    idx_dir, _ = salted
    rd = IndexReader(spark, idx_dir)
    # common terms, so every query has hits in several salt ranges
    text = "data web page"
    qids = ["zeta", "10", "b-2", "9", "Alpha", "q/1", "007", "beta", "x", "ä"]
    queries = [(q, text) for q in qids]
    runs = [_search(spark, rd, queries, k=5) for _ in range(2)]
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 2))
    runs.append(_search(spark, rd, queries, k=5))
    assert [tasks for _, tasks in runs] == [4, 4, 2]
    runs = [rows for rows, _ in runs]
    assert runs[0] == runs[1] == runs[2]
    order = list(dict.fromkeys(r[0] for r in runs[0]))
    assert order == ["007", "9", "10", "Alpha", "b-2", "beta", "q/1", "x",
                     "zeta", "ä"]
    assert all(len([r for r in runs[0] if r[0] == q]) == 5 for q in qids)
