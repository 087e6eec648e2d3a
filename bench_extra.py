#!/usr/bin/env python
"""Round-6 auxiliary benchmarks (bench.py is frozen for measurement; extra
legs live here and are cited from OPTIMIZATION_r06.md).

Legs (select with argv[1], default all):
  nextword   head-head exact-phrase serving at 1M docs: the round-5 verdict's
             p95 tail (candidates ~ min(df) for Zipf-head pairs) vs the
             partial nextword store (index/nextword.py).  Reports per-path
             p50/p95/total, the store's build cost and size delta, and
             asserts result identity between paths.

Outputs one JSON line per leg and appends to BENCH/r06_extra.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
CACHE = os.path.join(REPO, ".bench_cache")
N_DOCS = int(os.environ.get("KIR_EXTRA_DOCS", "1000000"))
N_PHRASES = int(os.environ.get("KIR_EXTRA_PHRASES", "12"))
K = 20


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def leg_nextword() -> dict:
    from pyspark.sql import functions as F

    from knowledgeir_spark.index.build import (
        IndexConfig, build_index, choose_salt_range,
    )
    from knowledgeir_spark.index.docstore import write_docstore
    from knowledgeir_spark.index.nextword import write_nextword_store
    from knowledgeir_spark.index.positions import write_positions_store
    from knowledgeir_spark.index.query import IndexReader
    from knowledgeir_spark.oracle.tokenizer import tokenize_doc
    from knowledgeir_spark.session import get_spark

    sys.path.insert(0, REPO)
    from bench import ensure_webtext  # reuse the corpus cache

    ensure_webtext(N_DOCS)
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                      app_name="r06-nextword-probe")
    idx = os.path.join(CACHE, f"nextword_probe_{N_DOCS}")
    docs = spark.read.parquet(
        os.path.join(CACHE, f"webtext_{N_DOCS}.parquet")
    ).select("doc_id", "text")
    cfg = IndexConfig(
        salt_range=choose_salt_range(N_DOCS, 16), n_buckets=32,
        build_partitions=max(16, N_DOCS // 18_000),
    )
    out: dict = {"leg": "nextword_phrase", "n_docs": N_DOCS}
    t0 = time.time()
    build_index(spark, docs, idx, cfg, input_token=f"nwprobe_{N_DOCS}")
    out["index_build_or_resume_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    if not os.path.isdir(os.path.join(idx, "docstore")):
        write_docstore(docs, idx)
    out["docstore_write_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    if not os.path.isdir(os.path.join(idx, "positions")):
        write_positions_store(docs, idx)
    out["positions_write_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    if not os.path.exists(os.path.join(idx, "nextword", "_nextword.json")):
        write_nextword_store(docs, idx)
    out["nextword_write_sec"] = round(time.time() - t0, 2)
    for part in ("postings", "docstore", "positions", "nextword"):
        out[f"{part}_bytes"] = _dir_bytes(os.path.join(idx, part))

    # head-head phrases FROM the corpus: adjacent pairs whose terms are both
    # in the store's head set (the round-5 p95 class)
    reader = IndexReader(spark, idx)
    nw = reader._nextword_store()
    out["head_terms"] = len(nw.heads)
    out["head_min_df"] = nw.head_min_df
    sample = (
        docs.filter((F.col("doc_id") % 9973) == 7)
        .limit(3000).collect()
    )
    seen: set[str] = set()
    phrases: list[str] = []
    for r in sample:
        ts = tokenize_doc(r["text"])
        for a, b in zip(ts, ts[1:]):
            p = f"{a} {b}"
            if a in nw.heads and b in nw.heads and p not in seen:
                seen.add(p)
                phrases.append(p)
        if len(phrases) >= N_PHRASES:
            break
    phrases = phrases[:N_PHRASES]
    out["n_phrases"] = len(phrases)
    queries = [(str(i), p) for i, p in enumerate(phrases)]

    def run(label: str, verify: str, use_nw: bool) -> list:
        rd = IndexReader(spark, idx)
        if not use_nw:
            rd._nextword = None  # measure the pre-round-6 two-phase path
        rd.search_phrase(queries[:1], k=K, verify=verify)  # warm
        lat, rows = [], []
        for q in queries:
            tq = time.time()
            rows.extend(rd.search_phrase([q], k=K, verify=verify))
            lat.append(time.time() - tq)
        ls = sorted(lat)
        out[label] = {
            "p50_sec": round(statistics.median(ls), 3),
            "p95_sec": round(ls[max(0, int(len(ls) * 0.95) - 1)], 3),
            "total_sec": round(sum(ls), 2),
        }
        return rows

    base_doc = run("docstore_baseline", "docstore", use_nw=False)
    base_pos = run("positions_baseline", "positions", use_nw=False)
    nw_doc = run("nextword", "docstore", use_nw=True)
    out["results_identical"] = (base_doc == nw_doc) and (base_pos == nw_doc)
    out["p95_speedup_vs_docstore"] = (
        round(out["docstore_baseline"]["p95_sec"] / out["nextword"]["p95_sec"], 1)
        if out["nextword"]["p95_sec"] else None
    )
    spark.stop()
    return out


def leg_freshness_batched() -> dict:
    """Fold-batching policy table (round-5 verdict item 2): 1M base + 8
    rolling 1% deltas under compact(min_pending_deltas=N) for N in
    {1, 4, 8}.  Reports sustained delta docs/s and time-to-queryable per
    batch (deferred batches become queryable at the fold that lands them);
    the crash-heal assertion (crash_fold_drill) runs after each policy's
    drill."""
    import shutil

    from pyspark.sql import functions as F  # noqa: F401

    from knowledgeir_spark.fixtures.webpages import gen_webpages
    from knowledgeir_spark.index.build import (
        IndexConfig, build_index, choose_salt_range,
    )
    from knowledgeir_spark.index.compact import compact
    from knowledgeir_spark.index.query import IndexReader
    from knowledgeir_spark.session import get_spark
    from knowledgeir_spark.streaming.incremental import incremental_index

    sys.path.insert(0, REPO)
    from bench import crash_fold_drill, ensure_webtext

    n_docs = int(os.environ.get("KIR_EXTRA_FRESH_DOCS", str(N_DOCS)))
    ensure_webtext(n_docs)
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                      app_name="r06-freshness-batched")
    out: dict = {"leg": "freshness_batched", "n_docs_base": n_docs,
                 "policies": {}}
    schema = "doc_id long, text string"
    batch_docs = max(1000, n_docs // 100)
    n_batches = 8
    cfg = IndexConfig(
        salt_range=choose_salt_range(n_docs, 16), n_buckets=32,
        build_partitions=max(16, n_docs // 18_000),
    )
    for policy_n in (1, 4, 8):
        root = os.path.join(CACHE, f"freshb_{n_docs}_{policy_n}")
        stream_in = os.path.join(CACHE, f"freshb_in_{n_docs}_{policy_n}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(stream_in, ignore_errors=True)
        os.makedirs(stream_in)
        docs = spark.read.parquet(
            os.path.join(CACHE, f"webtext_{n_docs}.parquet")
        ).select("doc_id", "text")
        t0 = time.time()
        build_index(spark, docs, root, cfg, input_token=f"freshb_{n_docs}")
        base_build = round(time.time() - t0, 1)
        ingest_done: dict[int, float] = {}
        ttq: dict[int, float] = {}
        folds = 0
        t_drill = time.time()
        for i in range(n_batches):
            pdf = gen_webpages(n_docs=batch_docs, seed=2000 + i,
                               with_html=False)
            pdf = pdf.reset_index().rename(columns={"index": "doc_id"})
            pdf["doc_id"] += n_docs + i * batch_docs
            marker = f"freshbat{policy_n}x{i}"
            pdf.loc[pdf.index[0], "text"] += f" {marker}"
            spark.createDataFrame(pdf[["doc_id", "text"]]).coalesce(4) \
                .write.mode("append").parquet(stream_in)
            incremental_index(spark, stream_in, root, schema, cfg)
            ingest_done[i] = time.time()
            res = compact(spark, root, cfg, mode="append",
                          min_pending_deltas=policy_n)
            if res and "deferred" not in res:
                folds += 1
                t_fold = time.time()
                for j in list(ingest_done):
                    ttq[j] = round(t_fold - ingest_done[j], 1)
                    del ingest_done[j]
                rd = IndexReader(spark, root)
                hits = rd.search_local([("1", marker)], k=5)
                assert hits and hits[0][1] == int(pdf["doc_id"].iloc[0]), (
                    f"policy {policy_n} batch {i}: marker not queryable"
                )
        # land any tail (fold whatever is still pending)
        if ingest_done:
            compact(spark, root, cfg, mode="append")
            folds += 1
            t_fold = time.time()
            for j in list(ingest_done):
                ttq[j] = round(t_fold - ingest_done[j], 1)
        drill_sec = time.time() - t_drill
        # crash-heal: after the policy's drill, a fold that crashes at its
        # commit point heals on the next compact
        pdf = gen_webpages(n_docs=batch_docs, seed=2000 + n_batches,
                           with_html=False)
        pdf = pdf.reset_index().rename(columns={"index": "doc_id"})
        pdf["doc_id"] += n_docs + n_batches * batch_docs
        heal_ok = crash_fold_drill(spark, root, stream_in, pdf, cfg,
                                   mode="append", min_pending_deltas=1)
        ttq_vals = sorted(ttq.values())
        out["policies"][str(policy_n)] = {
            "base_build_sec": base_build,
            "batches": n_batches, "batch_docs": batch_docs, "folds": folds,
            "sustained_delta_docs_per_sec": round(
                n_batches * batch_docs / drill_sec, 1
            ),
            "ttq_p50_sec": ttq_vals[len(ttq_vals) // 2],
            "ttq_max_sec": ttq_vals[-1],
            "crash_heal_restores_stats": heal_ok,
        }
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(stream_in, ignore_errors=True)
    spark.stop()
    return out


def main() -> None:
    legs = {"nextword": leg_nextword, "freshness": leg_freshness_batched}
    which = sys.argv[1:] or list(legs)
    results = []
    for name in which:
        res = legs[name]()
        results.append(res)
        print(json.dumps(res))
    path = os.path.join(REPO, "BENCH", "r06_extra.json")
    existing = []
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
    by_leg = {r.get("leg"): r for r in existing}
    for r in results:
        by_leg[r.get("leg")] = r
    with open(path, "w") as f:
        json.dump(list(by_leg.values()), f, indent=1)


if __name__ == "__main__":
    main()
