"""Resident term directory (IndexReader serving path): each bucket's live
block files load once per reader, and a query slices them by term.

Gate: on a fragmented index (a base plus two append-folded deltas, so each
bucket holds several files) under both block orders, the resident tables
and the per-call scan fallback (ceiling forced to 0) give the same
search_local (OR, AND with exclude), prewarm + search_local and
facet_counts_local results, and those equal the oracle.  Once its buckets
are loaded, a reader serves with no pyarrow dataset scan at all, and
three threads racing on one cold reader (two search_local calls and a
term_stats_for) load each bucket exactly once.
"""

from __future__ import annotations

import functools
import math
import threading
import time
from collections import Counter

import pytest

from knowledgeir_spark.index.build import (
    IndexConfig, build_index, live_files, term_bucket_py,
)
from knowledgeir_spark.index.compact import compact
from knowledgeir_spark.index import query
from knowledgeir_spark.index.facetstore import write_facet_store
from knowledgeir_spark.index.query import IndexReader
from knowledgeir_spark.oracle.index import OracleIndex
from knowledgeir_spark.oracle.tokenizer import tokenize_query
from knowledgeir_spark.streaming.incremental import incremental_index

CFG = IndexConfig(block_size=16, salt_range=64, n_buckets=4, build_partitions=4)
N_DOCS = 260  # base 200 + two 30-doc deltas


@pytest.fixture(scope="module", params=["docid", "impact"])
def frag_index(request, spark, webpages_pdf, tmp_path_factory):
    """(index dir, oracle, doc -> facet value) of a base + two
    append-folded deltas, built under one block order."""
    order = request.param
    cfg = IndexConfig(**{**CFG.fingerprint_dict(), "block_order": order})
    root = tmp_path_factory.mktemp(f"resident_{order}")
    idx_dir, inp = str(root / "idx"), str(root / "arr")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    build_index(spark, spark.createDataFrame(pdf.iloc[:200][["doc_id", "text"]]),
                idx_dir, cfg, input_token=f"resident_base_{order}")
    for lo in (200, 230):
        spark.createDataFrame(pdf.iloc[lo:lo + 30][["doc_id", "text"]]).write.mode(
            "append").parquet(inp)
        incremental_index(spark, inp, idx_dir, "doc_id long, text string", cfg)
        assert compact(spark, idx_dir, cfg, mode="append")
    corpus = pdf.iloc[:N_DOCS]
    grp = {int(d): f"g{int(d) % 5}" for d in corpus["doc_id"]}
    write_facet_store(
        spark.createDataFrame(
            [(d, g) for d, g in grp.items()], "doc_id long, grp string"),
        idx_dir, ["grp"],
    )
    # the deltas really fragmented the buckets
    assert len(live_files(idx_dir, "postings")) > CFG.n_buckets
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["text"])))
    return idx_dir, oracle, grp


def _queries(queries_pdf):
    return [(str(r.qid), r.query) for r in queries_pdf.itertuples()] + [
        ("oov", "zzznotaterm"), ("mix", "the data zzznotaterm w0100"),
    ]


def _readers(spark, idx_dir):
    """(resident reader, reader with every bucket on the scan fallback)."""
    scan = IndexReader(spark, idx_dir)
    scan._RESIDENT_MAX_BYTES = 0
    return IndexReader(spark, idx_dir), scan


def _oracle_and(oracle, qtext, exclude, k):
    terms = [t for t in dict.fromkeys(tokenize_query(qtext)) if t not in exclude]
    if not terms:
        return []
    docs = set.intersection(
        *({d for d, _ in oracle.postings.get(t, [])} for t in terms))
    for x in exclude:
        docs -= {d for d, _ in oracle.postings.get(x, [])}
    scores = oracle.score_all(" ".join(terms))
    return sorted(((d, scores[d]) for d in docs),
                  key=lambda ds: (-math.floor(ds[1] * 1e9), ds[0]))[:k]


def _check_topk(rows, want):
    assert [r[1] for r in rows] == [d for d, _ in want]
    for (_, _, score, _), (_, s) in zip(rows, want):
        assert score == pytest.approx(s, abs=1e-6)


def _oracle_facets(oracle, grp, queries, mode):
    out = []
    for qid, qtext in queries:
        terms = set(tokenize_query(qtext))
        sets = [{d for d, _ in oracle.postings.get(t, [])} for t in terms]
        if not sets:
            continue
        docs = set.intersection(*sets) if mode == "and" else set.union(*sets)
        out += [(qid, v, c) for v, c in Counter(grp[d] for d in docs).items()]
    return sorted(out)


def test_resident_and_scan_fallback_match_oracle(spark, frag_index, queries_pdf):
    idx_dir, oracle, grp = frag_index
    queries = _queries(queries_pdf)
    res, scan = _readers(spark, idx_dir)

    # OR, one call per query
    for q in queries:
        got = res.search_local([q], k=10)
        assert got == scan.search_local([q], k=10), q
        _check_topk(got, oracle.topk(q[1], k=10))
    assert scan.last_query_stats()["scan_fallback_buckets"] == len(
        {term_bucket_py(t, CFG.n_buckets) for t in tokenize_query(queries[-1][1])})
    assert scan.last_query_stats()["resident_buckets"] == 0
    assert res.last_query_stats()["scan_fallback_buckets"] == 0

    # AND with exclude, all queries in one call
    excl = {qid: tokenize_query(text)[-1:] for qid, text in queries[::3]}
    got = res.search_local(queries, k=10, mode="and", exclude=excl)
    assert got == scan.search_local(queries, k=10, mode="and", exclude=excl)
    for qid, qtext in queries:
        _check_topk([r for r in got if r[0] == qid],
                    _oracle_and(oracle, qtext, excl.get(qid, []), 10))

    # facets, both match modes
    for mode in ("or", "and"):
        got = sorted(res.facet_counts_local(queries, "grp", mode=mode))
        assert got == sorted(scan.facet_counts_local(queries, "grp", mode=mode))
        assert got == _oracle_facets(oracle, grp, queries, mode)


def test_prewarm_then_search_matches_oracle(spark, frag_index, queries_pdf):
    idx_dir, oracle, _ = frag_index
    queries = _queries(queries_pdf)
    res, scan = _readers(spark, idx_dir)
    warmed = [r.prewarm(n_terms=64) for r in (res, scan)]
    assert warmed[0]["terms_warmed"] == warmed[1]["terms_warmed"] > 0
    assert warmed[0]["postings_cached"] == warmed[1]["postings_cached"]
    for q in queries:
        got = res.search_local([q], k=10)
        assert got == scan.search_local([q], k=10), q
        _check_topk(got, oracle.topk(q[1], k=10))
    st = res.last_query_stats()
    assert st["cache_hits"] > 0 and st["cache_hits"] == scan.last_query_stats()["cache_hits"]


def _no_scan(*args, **kwargs):
    """Stands in for the block source: any read raises."""
    raise AssertionError("parquet read after load")


def test_loaded_reader_runs_no_scan(spark, frag_index, queries_pdf, monkeypatch):
    idx_dir, oracle, grp = frag_index
    queries = _queries(queries_pdf)
    reader = IndexReader(spark, idx_dir)
    st = reader.last_query_stats()
    assert (st["resident_buckets"], st["resident_bytes"], st["bucket_loads"]) \
        == (0, 0, 0)
    want_or = [reader.search_local([q], k=10) for q in queries]
    want_and = reader.search_local(queries, k=10, mode="and")
    want_facets = reader.facet_counts_local(queries, "grp")
    st = reader.last_query_stats()
    touched = {term_bucket_py(t, CFG.n_buckets)
               for _, text in queries for t in tokenize_query(text)}
    assert touched == set(range(CFG.n_buckets))
    assert st["resident_buckets"] == st["bucket_loads"] == CFG.n_buckets
    assert st["resident_bytes"] > 0

    monkeypatch.setattr(query, "_read_blocks", _no_scan)
    assert [reader.search_local([q], k=10) for q in queries] == want_or
    assert reader.search_local(queries, k=10, mode="and") == want_and
    assert reader.facet_counts_local(queries, "grp") == want_facets
    reader.prewarm(n_terms=16)
    assert reader.last_query_stats()["bucket_loads"] == CFG.n_buckets
    for q in queries:
        _check_topk(reader.search_local([q], k=10), oracle.topk(q[1], k=10))


def test_concurrent_first_calls_load_each_bucket_once(
    spark, frag_index, monkeypatch
):
    """Two threads make their first search_local call on ONE cold reader
    at the same time, on queries sharing a bucket, while a third asks
    term_stats_for the whole vocabulary; the load is slowed so all reach
    it together.  Both get the oracle's top-k, the third the oracle's df;
    each bucket loads once, and the searched buckets' rows load once: a
    bucket the df lookup reached first loads its directory only, then
    loads again with its rows for the search."""
    idx_dir, oracle, _ = frag_index
    reader = IndexReader(spark, idx_dir)
    qa, qb = ("a", "the data w0005"), ("b", "data w0100")
    shared = ({term_bucket_py(t, CFG.n_buckets) for t in tokenize_query(qa[1])}
              & {term_bucket_py(t, CFG.n_buckets) for t in tokenize_query(qb[1])})
    assert shared
    searched = {term_bucket_py(t, CFG.n_buckets)
                for q in (qa, qb) for t in tokenize_query(q[1])}

    calls: list[tuple[int, bool]] = []
    orig = reader._load_bucket

    def slow_load(b, rows):
        calls.append((b, rows))
        time.sleep(0.05)
        return orig(b, rows)

    monkeypatch.setattr(reader, "_load_bucket", slow_load)
    start = threading.Barrier(3)
    got: dict[str, list] = {}
    errors: list[BaseException] = []

    def run(name, call):
        try:
            start.wait()
            got[name] = call()
        except BaseException as e:  # surfaced below
            errors.append(e)

    work = {q[0]: functools.partial(reader.search_local, [q], k=10)
            for q in (qa, qb)}
    work["df"] = functools.partial(reader.term_stats_for, sorted(oracle.df))
    threads = [threading.Thread(target=run, args=kv) for kv in work.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for q in (qa, qb):
        _check_topk(got[q[0]], oracle.topk(q[1], k=10))
    assert got["df"] == oracle.df
    assert len(calls) == len(set(calls))
    assert {b for b, _ in calls} == set(range(CFG.n_buckets))
    assert sorted(b for b, rows in calls if rows) == sorted(searched)
    # a directory-only load comes before the bucket's row load, never after
    assert all((b, True) not in calls[:i] for i, (b, rows) in enumerate(calls)
               if not rows)
    st = reader.last_query_stats()
    assert st["bucket_loads"] == len(calls)
    assert st["resident_buckets"] == len(searched)


def test_df_lookups_load_no_block_rows(
    spark, frag_index, queries_pdf, monkeypatch
):
    """search() and term_stats_for on a fresh reader load each touched
    bucket's term directory only: the reader holds no block rows.  A later
    search_local reads each bucket's rows exactly once and equals the
    oracle."""
    idx_dir, oracle, _ = frag_index
    queries = _queries(queries_pdf)
    reader = IndexReader(spark, idx_dir)
    dist = reader.search(queries, k=10).collect()
    assert reader.term_stats_for(sorted(oracle.df)) == oracle.df
    st = reader.last_query_stats()
    assert st["resident_buckets"] == 0
    assert st["bucket_loads"] == CFG.n_buckets
    assert 0 < st["resident_bytes"] < 40 * len(oracle.df)

    reads: list[tuple[str, ...]] = []
    orig = query._read_blocks

    def counting_read(files, terms, columns=query._BLOCK_COLUMNS, *args):
        if "doc_id_deltas" in columns:
            reads.append(tuple(files))
        return orig(files, terms, columns, *args)

    monkeypatch.setattr(query, "_read_blocks", counting_read)
    for q in queries:
        got = reader.search_local([q], k=10)
        _check_topk(got, oracle.topk(q[1], k=10))
        assert [(r[1], r[2]) for r in got] == [
            (r["doc_id"], r["score"]) for r in dist if r["qid"] == q[0]]
    assert sorted(reads) == sorted(set(reads))
    assert len(reads) == CFG.n_buckets
    st = reader.last_query_stats()
    assert st["resident_buckets"] == CFG.n_buckets
    assert st["bucket_loads"] == 2 * CFG.n_buckets


def test_many_threads_mixing_df_and_block_lookups(spark, frag_index, queries_pdf):
    """Eight threads (more than the cores) on one cold reader, with a short
    switch interval: half ask term_stats_for, half search_local, over the
    same buckets.  Every call equals the oracle; no bucket's directory or
    rows load twice (a lost update would double a load or miss a count)."""
    import sys

    idx_dir, oracle, _ = frag_index
    queries = _queries(queries_pdf)
    reader = IndexReader(spark, idx_dir)
    calls: list[tuple[int, bool]] = []
    orig = reader._load_bucket

    def load(b, rows):
        calls.append((b, rows))
        return orig(b, rows)

    reader._load_bucket = load
    errors: list[BaseException] = []

    def run(i):
        try:
            for q in queries[i::8]:
                if i % 2:
                    got = reader.term_stats_for(tokenize_query(q[1]))
                    assert got == {t: oracle.df[t] for t in tokenize_query(q[1])
                                   if t in oracle.df}
                else:
                    _check_topk(reader.search_local([q], k=10),
                                oracle.topk(q[1], k=10))
        except BaseException as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(calls) == len(set(calls))
    assert reader.last_query_stats()["bucket_loads"] == len(calls)


def test_bucket_without_files(spark, tmp_path):
    """An index whose vocabulary leaves buckets empty: lookups of terms that
    hash to an empty bucket find nothing, on every path."""
    idx_dir = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame([(0, "w0001 w0002")], "doc_id long, text string"),
                idx_dir, IndexConfig(block_size=16, salt_range=64, n_buckets=16),
                input_token="one_doc")
    buckets = {int(p.rsplit("bucket=", 1)[1].split("/")[0])
               for p in live_files(idx_dir, "postings")}
    absent = next(t for t in (f"zz{i}" for i in range(100))
                  if term_bucket_py(t, 16) not in buckets)
    reader = IndexReader(spark, idx_dir)
    assert reader.term_stats_for([absent, "w0001"]) == {"w0001": 1.0}
    assert reader.search_local([("1", absent)], k=5) == []
    assert reader.search([("1", absent)], k=5).collect() == []
    assert [r[1] for r in reader.search_local([("1", f"{absent} w0002")], k=5)] == [0]
    assert reader.prewarm(n_terms=4)["terms_warmed"] >= 0
    assert reader.suggest(["w0001"])["w0001"][1] == 0
