"""Physical-plan guarantees: the plans we designed for are the plans we get.

These are regression tests on .explain output — partition pruning, filter
pushdown, broadcast joins, and shuffle counts — the properties that decide
whether the engine survives a 100x scale-up (SURVEY.md §4).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_doc_terms_is_map_only(spark, webpages_pdf, tmp_path):
    """Tokenize+TF must not shuffle (doc-local aggregation)."""
    from knowledgeir_spark.functions.text import doc_terms

    p = str(tmp_path / "docs.parquet")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    spark.createDataFrame(pdf[["doc_id", "text"]]).write.parquet(p)
    plan = _plan(doc_terms(spark.read.parquet(p)))
    assert "Exchange" not in plan, plan


def test_postings_scan_prunes_buckets(spark, webpages_pdf, tmp_path, monkeypatch):
    """A search() task's block read must open only the query terms' bucket
    files of the pinned generation and push the term and salt-range
    predicate into pyarrow's parquet reader."""
    import pyarrow.dataset as ds

    from knowledgeir_spark.index import query
    from knowledgeir_spark.index.build import (
        IndexConfig, build_index, live_files, term_bucket_py,
    )
    from knowledgeir_spark.index.query import IndexReader, _query_term_dicts

    idx = str(tmp_path / "idx")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"}).iloc[:100]
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    build_index(spark, docs, idx, IndexConfig(n_buckets=8, salt_range=64), "plans")
    reader = IndexReader(spark, idx)
    terms = ["data", "spark"]
    wanted = {term_bucket_py(t, 8) for t in terms}
    files = [f for b, _ in reader._by_bucket(terms) for f in reader._bucket_files[b]]
    live = live_files(idx, "postings")
    assert sorted(files) == sorted(
        p for p in live if int(p.rsplit("bucket=", 1)[1].split("/")[0]) in wanted)
    assert 0 < len(files) < len(live)

    opened = []

    class _SpyDs:
        """pyarrow.dataset, recording each dataset's files and filter."""

        field = staticmethod(ds.field)

        @staticmethod
        def dataset(paths, **kw):
            real = ds.dataset(paths, **kw)

            class _Dataset:
                def to_table(self, **tkw):
                    opened.append((list(paths), tkw["filter"]))
                    return real.to_table(**tkw)

            return _Dataset()

    q_terms, _ = _query_term_dicts([("1", " ".join(terms))])
    dfs = reader.term_stats_for(terms)
    for t in q_terms["1"]:
        t["df"] = dfs.get(t["term"], 0.0)
    monkeypatch.setattr(query, "ds", _SpyDs)
    fs = reader.field_stats
    hits = query._score_salts(files, terms, (0, 1), q_terms, {}, fs["n_docs"],
                              fs["avg_doc_len"], "bm25", True, "or", 10)
    assert hits.num_rows > 0
    ((paths, filt),) = opened
    assert paths == files
    pred = str(filt)
    assert all(f'"{t}"' in pred for t in terms) and "salt" in pred, pred
    # the pushed read returns exactly the terms' rows of salt 0
    got = ds.dataset(files).to_table(filter=filt)
    assert set(got["term"].to_pylist()) == set(terms)
    assert set(got["salt"].to_pylist()) == {0}


def test_retrieval_broadcasts_query_side(spark, webpages_pdf, queries_pdf):
    """The J9 scoring join must broadcast the (tiny) query-term side."""
    from knowledgeir_spark.functions.text import doc_terms
    from knowledgeir_spark.operators.corpus_stats import term_stats
    from knowledgeir_spark.operators.retrieval import matched_frame, query_terms

    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf[["doc_id", "text"]].iloc[:100])
    dt = doc_terms(docs)
    q = query_terms(spark.createDataFrame(queries_pdf))
    plan = _plan(matched_frame(q, dt, term_stats(dt)))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pricing_summary_pushes_filter(spark):
    """The shipdate predicate must reach the parquet scan."""
    from knowledgeir_spark.parity import q_pricing_summary

    plan = _plan(q_pricing_summary(spark, "/root/testdata/sf0.001"))
    pushed = plan.split("PushedFilters: [")
    assert len(pushed) > 1 and "l_shipdate" in pushed[1][:120], plan


def test_semi_join_for_candidate_filter(spark):
    """P4: candidate filtering compiles to a semi join, not inner+distinct."""
    from knowledgeir_spark.parity import q_customers_without_orders

    plan = _plan(q_customers_without_orders(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan, plan


def test_family_embedding_joins_broadcast(spark):
    """The LeToR embedding families must broadcast the entity-embedding
    dimension table on BOTH sides of the sim join (never shuffle the fact
    side on entity id) — the property that keeps them linear at corpus
    scale."""
    from knowledgeir_spark.operators.letor_families import (
        boe_emb_features,
        form_bins,
    )

    pairs = spark.createDataFrame([("1", 0)], "qid string, doc_id long")
    q_ents = spark.createDataFrame([("1", "e0")], "qid string, e string")
    doc_ents = spark.createDataFrame(
        [(0, "bodyText", "e1")], "doc_id long, field string, e string"
    )
    emb = spark.createDataFrame(
        [("e0", [1.0, 0.0]), ("e1", [0.0, 1.0])],
        "e string, vector array<float>",
    )
    plan = _plan(
        boe_emb_features(pairs, q_ents, doc_ents, emb, bins=form_bins(3))
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_dedup_candidate_join_is_bucketed(spark):
    """LSH candidate generation must join on (band, sig) — the bucket — not
    produce a cartesian/broadcast-nested-loop over docs."""
    from knowledgeir_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i} delta") for i in range(8)],
        "doc_id long, text string",
    )
    plan = _plan(
        lsh_candidate_pairs(minhash_signatures(doc_shingles(docs, k=2)))
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sdm_bigram_join_broadcasts_query_side(spark):
    """The proximity position-extraction join must broadcast the (tiny)
    bigram table — no shuffle of the token-position table to co-locate it
    with query terms."""
    from knowledgeir_spark.operators.proximity import sdm_bigram_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = spark.createDataFrame(
        [(1, "spark", 0), (1, "query", 1)], "qid int, term string, pos int"
    )
    plan = _plan(sdm_bigram_counts(docs, queries))
    assert "BroadcastHashJoin" in plan, plan


def test_url_host_stats_prunes_columns(spark, tmp_path):
    """host_stats must read only the columns it needs from the scan."""
    from knowledgeir_spark.functions.url import host_stats

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "https://a.com/x", "en", 5, "padding-column")],
        "doc_id long, url string, lang string, n_chars long, extra string",
    ).write.parquet(p)
    plan = _plan(host_stats(spark.read.parquet(p)))
    rs = plan.split("ReadSchema")[1][:200]
    assert "url" in rs and "extra" not in rs, plan


def test_ivf_assignment_is_map_side(spark):
    """Centroids are broadcast as literals: assigning vectors to buckets
    must not shuffle the vector table."""
    from knowledgeir_spark.operators.ivf import ivf_assign_expr

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    df = emb.select("vec_id", ivf_assign_expr("embedding", cents).alias("cid"))
    assert "Exchange" not in _plan(df), _plan(df)


def test_spell_correct_never_cross_joins(spark):
    """The SymSpell candidate stage must be an equi-join on the delete key —
    a cross join with a levenshtein filter (the oracle's formulation) would
    be quadratic in vocabulary size."""
    from knowledgeir_spark.operators.spell import spell_correct

    vocab = spark.createDataFrame(
        [("spark", 10), ("query", 5)], "term string, df long"
    )
    inputs = spark.createDataFrame([("sprk",)], "input string")
    plan = _plan(spell_correct(inputs, vocab))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bm25f_broadcasts_small_sides(spark):
    """BM25F: per-field avg lengths, the field-spec table, and the query
    terms are all broadcast — the only shuffles are the term aggregations."""
    from knowledgeir_spark.operators.fielded import bm25f_topk

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            "doc_id",
            F.substring("text", 1, 30).alias("title"),
            F.col("text").alias("body"),
        )
    )
    q = spark.createDataFrame([(1, "spark", 0)], "qid long, term string, term_idx long")
    plan = _plan(bm25f_topk(docs, q))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_snippets_restrict_to_candidates_and_broadcast_queries(spark):
    """The snippet positional explode must join candidates before the
    window self-join (serving cost is k*|queries| docs) with the query
    terms broadcast."""
    from knowledgeir_spark.operators.snippet import best_snippets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = spark.createDataFrame([(1, "spark")], "qid long, term string")
    cand = spark.createDataFrame([(1, 3)], "qid long, doc_id long")
    plan = _plan(best_snippets(docs, q, cand))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_anchor_cap_is_map_side_group_limit(spark):
    """The anchor max_inlinks cap must compile to a PARTIAL (map-side)
    WindowGroupLimit: each map task keeps <= max_inlinks rows per dst
    BEFORE the exchange, so a 10^6-inlink hot destination never funnels
    its full degree through one window task (measured in the bench
    anchor_skew probe)."""
    from knowledgeir_spark.operators.anchor import aggregate_anchor_text

    links = spark.createDataFrame(
        [(1, 0, 1, "a"), (2, 0, 1, "b")],
        "src long, dst long, link_id int, anchor_text string",
    )
    plan = _plan(aggregate_anchor_text(links, max_inlinks=10))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
