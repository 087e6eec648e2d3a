#!/usr/bin/env python
"""Headline benchmark for the knowledgeir_spark engine.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-step sec...}, "sf": <sf>, ...extras}

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  KIR_BENCH_SCALING=1  also measure the index build at cpus/4 for the
                       two-parallelism scaling efficiency (north_rule's
                       N -> 4N executor criterion, sandbox proxy).
  KIR_BENCH_DOCS       override webtext corpus size.

Isolation note: every index-build measurement runs in a FRESH subprocess
(own JVM + Python) so page-cache state, driver-heap residue from corpus
generation, and Spark session reuse cannot contaminate the timing — the
reported build_sec is wall time around build_index() only.

Workloads:
  index_build    full inverted-index build over the synthetic webtext corpus
                 (Zipf head-term skew; docs scaled by sf) -> docs/sec
  query_*        50 reference-shaped keyword queries, top-20 BM25 via the
                 posting index (per-query latency p50/p95 + one batch run)
  fullscan_bm25  the driver-contract flagship at sf (documents.parquet)
  relational     pricing_summary + top_customers parity queries at sf
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = SF_DIR.rstrip("/").split("sf")[-1]
N_DOCS = int(
    os.environ.get("KIR_BENCH_DOCS", max(2000, int(float(SF) * 1_000_000)))
)
CACHE = os.path.join(REPO, ".bench_cache")
N_QUERIES = 50
K = 20


def webtext_path(n_docs: int) -> str:
    return os.path.join(CACHE, f"webtext_{n_docs}.parquet")


def ensure_webtext(n_docs: int) -> str:
    path = webtext_path(n_docs)
    if os.path.isdir(path):
        return path
    from knowledgeir_spark.fixtures.webpages import gen_webpages
    from knowledgeir_spark.session import get_spark

    os.makedirs(CACHE, exist_ok=True)
    pdf = gen_webpages(n_docs=n_docs, with_html=False).reset_index().rename(
        columns={"index": "doc_id"}
    )
    spark = get_spark(cpus=8, app_name="kir-bench-gen")
    spark.createDataFrame(pdf[["doc_id", "url", "text", "lang"]]).repartition(
        32
    ).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def build_once(cpus: int, n_docs: int) -> dict:
    """Subprocess entry: fresh JVM+Python, one index build, timing on stdout."""
    from knowledgeir_spark.index.build import IndexConfig, build_index
    from knowledgeir_spark.session import get_spark

    idx_dir = os.path.join(CACHE, f"index_c{cpus}_{n_docs}")
    shutil.rmtree(idx_dir, ignore_errors=True)
    spark = get_spark(cpus=cpus, app_name=f"kir-bench-build-{cpus}")
    from knowledgeir_spark.index.build import choose_salt_range

    from pyspark.sql import functions as F

    docs = spark.read.parquet(webtext_path(n_docs))
    # warm the page cache for the whole input OUTSIDE the timed region so
    # run order (hi-then-lo) cannot bias the scaling pair
    docs.select(F.sum(F.length("text"))).collect()
    # salt_range AND shuffle width derive from the CORPUS only, so the
    # scaling pair runs the IDENTICAL job at both core counts.  Width targets
    # ~1.5M long-form rows (~100MB) per shuffle partition — sizing it to
    # cores alone (the session default) makes 2M-doc builds spill (measured:
    # 3.3x time for 2x data at 16 partitions).
    cfg = IndexConfig(
        salt_range=choose_salt_range(n_docs, 16),
        n_buckets=32,
        build_partitions=max(16, n_docs // 18_000),
    )
    t0 = time.time()
    build_index(spark, docs, idx_dir, cfg, input_token=f"bench_{n_docs}")
    dt = time.time() - t0
    spark.stop()
    return {
        "cpus": cpus, "build_sec": round(dt, 3), "idx_dir": idx_dir,
        "index_bytes": _dir_bytes(idx_dir),
    }


def _code_fingerprint(rels: tuple) -> str:
    """md5 over the STRIPPED AST of the given sources: a semantic change
    re-measures the (expensive) cached legs; an unchanged path reuses them.
    Comments, docstrings, and formatting are excluded on purpose — a
    doc-only edit must not detach a cached measurement from HEAD (round-2
    lesson: an 8-line comment edit invalidated a valid scaling pair and the
    forced re-measure landed in a CPU-steal burst)."""
    import ast
    import hashlib

    h = hashlib.md5()
    for rel in rels:
        with open(os.path.join(REPO, rel)) as f:
            tree = ast.parse(f.read(), filename=rel)
        for node in ast.walk(tree):
            body = getattr(node, "body", None)
            if (
                isinstance(node, (ast.Module, ast.FunctionDef,
                                  ast.AsyncFunctionDef, ast.ClassDef))
                and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
        h.update(rel.encode())
        h.update(ast.dump(tree).encode())
    return h.hexdigest()[:12]


def _build_code_fingerprint() -> str:
    return _code_fingerprint((
        "knowledgeir_spark/index/build.py",
        "knowledgeir_spark/index/codec.py",
        "knowledgeir_spark/plans/lineage.py",
        "knowledgeir_spark/fixtures/webpages.py",
        "knowledgeir_spark/session.py",
        "knowledgeir_spark/functions/text.py",
    ))


def _dedup_code_fingerprint() -> str:
    return _code_fingerprint((
        "knowledgeir_spark/operators/dedup.py",
        "knowledgeir_spark/fixtures/webpages.py",
        "knowledgeir_spark/session.py",
    ))


def _ngram_code_fingerprint() -> str:
    return _code_fingerprint((
        "knowledgeir_spark/operators/ngram_dedup.py",
        "knowledgeir_spark/functions/text.py",
        "knowledgeir_spark/fixtures/webpages.py",
        "knowledgeir_spark/session.py",
    ))


def _host_busy_steal() -> tuple[int, int]:
    """(busy, steal) jiffies from the aggregate /proc/stat cpu line.  Steal
    accrues only on RUNNABLE vCPUs, so during a build it is a direct
    measure of how much of the build's own CPU the hypervisor took."""
    with open("/proc/stat") as f:
        p = f.readline().split()
    busy = int(p[1]) + int(p[2]) + int(p[3])  # user + nice + system
    return busy, int(p[8])


def serving_probe_once(
    cpus: int, n_docs: int, block_order: str, id_stride: int, fp: str
) -> dict:
    """Subprocess entry: build (resumable commit — rebuilt only when the
    build-code fingerprint changes) an index VARIANT (block layout / doc-id
    sparsity) and measure the 50-query serving set's decode work and
    latency.  Two passes: skip-rate pass with the decoded-postings cache
    disabled (per-query decode work, the honest block-skip measurement),
    then a latency pass with the default cache."""
    import statistics

    from pyspark.sql import functions as F

    from knowledgeir_spark.fixtures.webpages import gen_queries
    from knowledgeir_spark.index.build import (
        IndexConfig,
        build_index,
        choose_salt_range,
    )
    from knowledgeir_spark.index.query import DecodedTermCache, IndexReader
    from knowledgeir_spark.session import get_spark

    tag = f"{block_order}_s{id_stride}"
    idx_dir = os.path.join(CACHE, f"probe_idx_{n_docs}_{tag}_{fp}")
    spark = get_spark(cpus=cpus, app_name=f"kir-probe-{tag}")
    docs = spark.read.parquet(webtext_path(n_docs))
    if id_stride != 1:
        docs = docs.withColumn("doc_id", F.col("doc_id") * id_stride)
    cfg = IndexConfig(
        salt_range=choose_salt_range(n_docs * id_stride, 16),
        n_buckets=32,
        build_partitions=max(16, n_docs // 18_000),
        block_order=block_order,
    )
    t0 = time.time()
    build_index(spark, docs, idx_dir, cfg, input_token=f"probe_{n_docs}_{tag}")
    build_sec = round(time.time() - t0, 3)

    queries = [(r.qid, r.query) for r in gen_queries(N_QUERIES).itertuples()]
    out: dict = {
        "n_docs": n_docs, "block_order": block_order, "id_stride": id_stride,
        "build_or_resume_sec": build_sec,
    }
    def pctl(lat: list) -> dict:
        lat = sorted(lat)
        return {
            "p50_sec": round(statistics.median(lat), 4),
            "p95_sec": round(lat[int(len(lat) * 0.95) - 1], 4),
            "total_50q_sec": round(sum(lat), 3),
        }

    # pass 1: skip rate AND latency with the decode cache OFF — the honest
    # per-query decode work of this (layout, query) combination
    rd = IndexReader(spark, idx_dir)
    rd.decode_cache = DecodedTermCache(max_postings=0)
    rd.search_local(queries[:1], k=K)
    dec = tot = 0
    s_dec = s_tot = s_n = 0
    lat0 = []
    for q in queries:
        tq = time.time()
        rd.search_local([q], k=K)
        lat0.append(time.time() - tq)
        st = rd.last_query_stats()
        d, t = st.get("blocks_decoded", 0), st.get("blocks_total", 0)
        dec += d
        tot += t
        if st.get("n_scored_terms") == 1:
            # the class the bound-cut mechanism targets: one positive-idf
            # term whose full decode is otherwise the whole query cost
            s_dec += d
            s_tot += t
            s_n += 1
    out["blocks_decoded"] = dec
    out["blocks_total"] = tot
    out["block_skip_rate"] = round(1 - dec / tot, 4) if tot else None
    out["single_scored_term"] = {
        "n_queries": s_n, "blocks_decoded": s_dec, "blocks_total": s_tot,
        "skip_rate": round(1 - s_dec / s_tot, 4) if s_tot else None,
    }
    out["cache_off"] = pctl(lat0)
    # pass 2: default cache, two sweeps — the first pays the cache-fill
    # investment (full decodes for cacheability), the second is warm
    # steady state; reporting them separately keeps the artifact stable
    # across runs (a single mixed pass was dominated by fill-order noise)
    rd2 = IndexReader(spark, idx_dir)
    rd2.search_local(queries[:1], k=K)
    for label in ("cache_first_pass", "cache_steady_state"):
        lat = []
        for q in queries:
            tq = time.time()
            rd2.search_local([q], k=K)
            lat.append(time.time() - tq)
        out[label] = pctl(lat)
    spark.stop()
    return out


def phrase_probe_once(cpus: int, n_docs: int, fp: str) -> dict:
    """Subprocess entry: phrase serving at bench scale (verdict item 5) —
    docstore-verify vs positional-verify latency on corpus-derived phrases
    plus the stores' on-disk size delta; the numbers decide the shipped
    default verify path."""
    import statistics

    from knowledgeir_spark.index.build import (
        IndexConfig,
        build_index,
        choose_salt_range,
    )
    from knowledgeir_spark.index.docstore import write_docstore
    from knowledgeir_spark.index.positions import write_positions_store
    from knowledgeir_spark.index.query import IndexReader
    from knowledgeir_spark.oracle.tokenizer import tokenize_doc
    from knowledgeir_spark.session import get_spark

    idx_dir = os.path.join(CACHE, f"phrase_idx_{n_docs}_{fp}")
    spark = get_spark(cpus=cpus, app_name="kir-phrase-probe")
    docs = spark.read.parquet(webtext_path(n_docs)).select("doc_id", "text")
    cfg = IndexConfig(
        salt_range=choose_salt_range(n_docs, 16), n_buckets=32,
        build_partitions=max(16, n_docs // 18_000),
    )
    t0 = time.time()
    build_index(spark, docs, idx_dir, cfg, input_token=f"phrase_{n_docs}")
    out: dict = {
        "n_docs": n_docs,
        "build_or_resume_sec": round(time.time() - t0, 3),
    }
    t0 = time.time()
    if not os.path.isdir(os.path.join(idx_dir, "docstore")):
        write_docstore(docs, idx_dir)
    out["docstore_write_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    if not os.path.isdir(os.path.join(idx_dir, "positions")):
        write_positions_store(docs, idx_dir)
    out["positions_write_sec"] = round(time.time() - t0, 3)
    for part in ("postings", "docstore", "positions"):
        out[f"{part}_bytes"] = _dir_bytes(os.path.join(idx_dir, part))

    # phrase queries FROM the corpus (the 2-gram at token offset 3 of
    # spread-out docs) so matches are non-empty and both verify paths do
    # real adjacency work; 2-grams whose BOTH terms are Zipf heads are kept
    # too — head-head phrases are the expensive class and belong in p95
    stride = max(1, n_docs // N_QUERIES)
    sample = (
        docs.filter((docs.doc_id % stride) == 7)
        .orderBy("doc_id").limit(N_QUERIES).collect()
    )
    # tokenize with the INDEX's doc tokenizer (spec) so every phrase is a
    # genuine adjacent pair of the indexed stream
    phrases = []
    for r in sample:
        toks = tokenize_doc(r["text"])
        if len(toks) >= 5:
            phrases.append(" ".join(toks[3:5]))
    queries = [(str(i), p) for i, p in enumerate(phrases)]
    out["n_phrases"] = len(queries)

    rd = IndexReader(spark, idx_dir)
    results = {}
    for verify in ("docstore", "positions"):
        rd.search_phrase(queries[:1], k=K, verify=verify)  # warm
        lat, rows = [], []
        for q in queries:
            tq = time.time()
            rows.extend(rd.search_phrase([q], k=K, verify=verify))
            lat.append(time.time() - tq)
        lat_s = sorted(lat)
        results[verify] = rows
        out[verify] = {
            "p50_sec": round(statistics.median(lat_s), 4),
            "p95_sec": round(lat_s[int(len(lat_s) * 0.95) - 1], 4),
            "total_sec": round(sum(lat_s), 3),
            "n_results": len(rows),
        }
    out["results_identical"] = results["docstore"] == results["positions"]
    spark.stop()
    return out


def crash_fold_drill(spark, root: str, stream_in: str, pdf, cfg, **compact_kw) -> bool:
    """Land pdf as one more delta, crash its fold just before the
    field_stats.json replace (the commit point), then re-run compact.  True
    when the crash left the whole pre-fold field_stats.json and the re-run
    counted the delta exactly once."""
    import knowledgeir_spark.index.compact as cm
    from knowledgeir_spark.streaming.incremental import incremental_index

    spark.createDataFrame(pdf[["doc_id", "text"]]).coalesce(4).write.mode(
        "append").parquet(stream_in)
    incremental_index(spark, stream_in, root, "doc_id long, text string", cfg)
    fs_path = os.path.join(root, "field_stats.json")
    with open(fs_path) as f:
        before = f.read()
    commit = cm._atomic_write_json

    def crash(*_a, **_kw):
        raise RuntimeError("crash at the commit point")

    cm._atomic_write_json = crash
    try:
        cm.compact(spark, root, cfg, **compact_kw)
    except RuntimeError:
        pass
    finally:
        cm._atomic_write_json = commit
    with open(fs_path) as f:
        old_ok = f.read() == before
    cm.compact(spark, root, cfg, **compact_kw)
    with open(fs_path) as f:
        healed = json.load(f)
    return old_ok and healed["n_docs"] == json.loads(before)["n_docs"] + len(pdf)


def freshness_once(cpus: int, n_docs: int, fp: str) -> dict:
    """Subprocess entry: streaming ingest -> append compaction -> serving
    freshness (verdict item 6).  1M-doc base + rolling 1% delta batches;
    per batch: time-to-queryable (streamed delta build + O(delta) append
    fold + reader open + planted-term hit) and sustained delta docs/sec.
    Crash-replay assertions run mid-drill: (a) re-invoking the stream is a
    no-op (checkpoint dedupe), (b) a fold that crashes at its commit point
    heals on the next compact (crash_fold_drill)."""
    from pyspark.sql import functions as F

    from knowledgeir_spark.fixtures.webpages import gen_webpages
    from knowledgeir_spark.index.build import (
        IndexConfig,
        build_index,
        choose_salt_range,
    )
    from knowledgeir_spark.index.compact import compact
    from knowledgeir_spark.index.query import IndexReader
    from knowledgeir_spark.session import get_spark
    from knowledgeir_spark.streaming.incremental import incremental_index

    root = os.path.join(CACHE, f"fresh_idx_{n_docs}_{fp}")
    stream_in = os.path.join(CACHE, f"fresh_stream_{n_docs}_{fp}")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(stream_in, ignore_errors=True)
    os.makedirs(stream_in)
    spark = get_spark(cpus=cpus, app_name="kir-freshness")
    docs = spark.read.parquet(webtext_path(n_docs)).select("doc_id", "text")
    cfg = IndexConfig(
        salt_range=choose_salt_range(n_docs, 16), n_buckets=32,
        build_partitions=max(16, n_docs // 18_000),
    )
    t0 = time.time()
    build_index(spark, docs, root, cfg, input_token=f"fresh_{n_docs}")
    out: dict = {
        "n_docs_base": n_docs,
        "base_build_sec": round(time.time() - t0, 3),
        "batches": [],
    }
    schema = "doc_id long, text string"
    batch_docs = max(1000, n_docs // 100)
    n_batches = 5
    total_delta_sec = 0.0
    for i in range(n_batches):
        pdf = gen_webpages(n_docs=batch_docs, seed=1000 + i, with_html=False)
        pdf = pdf.reset_index().rename(columns={"index": "doc_id"})
        pdf["doc_id"] += n_docs + i * batch_docs
        marker = f"freshterm{i}"
        pdf.loc[pdf.index[0], "text"] += f" {marker}"
        t0 = time.time()
        spark.createDataFrame(pdf[["doc_id", "text"]]).coalesce(4).write.mode(
            "append"
        ).parquet(stream_in)
        incremental_index(spark, stream_in, root, schema, cfg)
        t_ingest = time.time() - t0
        t1 = time.time()
        compact(spark, root, cfg, mode="append")
        t_compact = time.time() - t1
        t2 = time.time()
        rd = IndexReader(spark, root)
        hits = rd.search_local([("1", marker)], k=5)
        t_query = time.time() - t2
        t_queryable = time.time() - t0
        assert hits and hits[0][1] == int(pdf["doc_id"].iloc[0]), (
            f"batch {i} marker not queryable: {hits}"
        )
        total_delta_sec += t_queryable
        out["batches"].append(
            {
                "batch_docs": batch_docs,
                "ingest_sec": round(t_ingest, 3),
                "compact_sec": round(t_compact, 3),
                "first_query_sec": round(t_query, 3),
                "time_to_queryable_sec": round(t_queryable, 3),
            }
        )
    out["sustained_delta_docs_per_sec"] = round(
        n_batches * batch_docs / total_delta_sec, 1
    )
    # (a) crash-replay: re-invoking the stream processes nothing new
    n_deltas = len(
        [d for d in os.listdir(os.path.join(root, "deltas"))
         if d.startswith("batch_")]
    )
    incremental_index(spark, stream_in, root, schema, cfg)
    n_deltas_after = len(
        [d for d in os.listdir(os.path.join(root, "deltas"))
         if d.startswith("batch_")]
    )
    out["stream_replay_is_noop"] = n_deltas_after == n_deltas
    # (b) a fold that crashes at its commit point heals on the next compact
    pdf = gen_webpages(n_docs=batch_docs, seed=1000 + n_batches, with_html=False)
    pdf = pdf.reset_index().rename(columns={"index": "doc_id"})
    pdf["doc_id"] += n_docs + n_batches * batch_docs
    out["crash_heal_restores_stats"] = crash_fold_drill(
        spark, root, stream_in, pdf, cfg, mode="append"
    ) and bool(IndexReader(spark, root).search_local(
        [("1", f"freshterm{n_batches - 1}")], k=5))
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(stream_in, ignore_errors=True)
    return out


def suggest_probe_once(cpus: int) -> dict:
    """Subprocess entry: spell/autocomplete dictionary at web vocabulary
    scale (verdict item 7).  The suggest dictionary consumes (term, df)
    only, so VOCABULARY size is the scale axis: build the delete-key index
    over synthetic Zipf (term, df) vocabularies of 100k / 1M / 2M terms,
    measure build wall + per-probe latency, then measure the distributed
    operator (operators/spell.spell_correct over a 2M-term table) on the
    same probe set, for comparison with the driver-side dictionary."""
    import statistics

    from pyspark.sql import functions as F

    from knowledgeir_spark.index.query import (
        _build_spell_index,
        _suggest_from_dict,
    )
    from knowledgeir_spark.operators.spell import spell_correct
    from knowledgeir_spark.session import get_spark

    out: dict = {"local": {}}
    n_probe = 200

    def mk_term(i: int) -> str:
        return f"term{i:07d}"

    for n in (100_000, 1_000_000, 2_000_000):
        dfc = {mk_term(i): float(max(1, 10_000_000 // (i + 1)))
               for i in range(n)}
        t0 = time.time()
        idx = _build_spell_index(dfc)
        build_sec = time.time() - t0
        typos = [mk_term(i)[:2] + mk_term(i)[3:]
                 for i in range(0, n, n // n_probe)][:n_probe]
        lat = []
        for t in typos:
            tq = time.time()
            _suggest_from_dict([t], dfc, idx, 3)
            lat.append(time.time() - tq)
        out["local"][str(n)] = {
            "dict_build_sec": round(build_sec, 2),
            "delete_keys": len(idx),
            "probe_p50_us": round(statistics.median(lat) * 1e6, 1),
            "probe_p95_us": round(sorted(lat)[int(n_probe * 0.95) - 1] * 1e6, 1),
        }
        del dfc, idx
    # the distributed operator on the same probes
    spark = get_spark(cpus=cpus, app_name="kir-suggest-probe")
    n_dist = 2_000_000
    vocab = spark.range(n_dist).select(
        F.format_string("term%07d", F.col("id")).alias("term"),
        F.greatest(
            F.lit(1.0), (F.lit(10_000_000) / (F.col("id") + 1)).cast("double")
        ).alias("df"),
    )
    typos = [mk_term(i)[:2] + mk_term(i)[3:]
             for i in range(0, n_dist, n_dist // n_probe)][:n_probe]
    inp = spark.createDataFrame([(t,) for t in typos], "input string")
    t0 = time.time()
    n_sugg = spell_correct(inp, vocab).count()
    out["distributed"] = {
        "vocab_terms": n_dist,
        "n_probes": n_probe,
        "batch_wall_sec": round(time.time() - t0, 2),
        "n_suggestions": n_sugg,
    }
    spark.stop()
    return out


def dedup_once(cpus: int, n_docs: int) -> dict:
    """Subprocess entry: minhash-LSH + simhash near-dup over the Zipf-skewed
    webtext corpus at bench scale — wall time and candidate-pair counts are
    the evidence that the stop-shingle cut + bucket caps keep candidate
    growth ~linear in docs (not the N^2 a naive band join gives on a Zipf
    head)."""
    from pyspark.sql import functions as F

    from knowledgeir_spark.operators.dedup import (
        doc_shingles,
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        simhash,
        simhash_near_pairs,
        stop_shingle_cut,
    )
    from knowledgeir_spark.session import get_spark

    spark = get_spark(cpus=cpus, app_name=f"kir-bench-dedup-{n_docs}")
    base = spark.read.parquet(webtext_path(n_docs))
    base.select(F.sum(F.length("text"))).collect()  # warm page cache
    # the webtext corpus is all-distinct by construction; plant a known
    # near-dup population (every 100th doc re-added verbatim under a new
    # id) so the pipeline has true positives to find at every scale
    dups = base.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + n_docs
    )
    docs = base.unionByName(dups)
    planted = n_docs // 100 + (1 if n_docs % 100 else 0)
    out: dict = {"cpus": cpus, "n_docs": n_docs, "planted_dup_pairs": planted}

    t0 = time.time()
    sh = doc_shingles(docs, k=3)
    max_df = docs.agg(
        F.greatest(F.floor(F.count("*") / 2), F.lit(3)).cast("long")
        .alias("_max_df")
    )
    # the cut shingle table feeds signatures AND the Jaccard verify —
    # persist it once instead of re-tokenizing the corpus per consumer
    sh = stop_shingle_cut(sh, max_df).persist()
    sig = minhash_signatures(sh, n_hashes=16, hash_fn="xxhash64")
    cand = lsh_candidate_pairs(
        sig, n_hashes=16, n_bands=4, max_bucket=500, hash_fn="xxhash64"
    ).persist()
    out["minhash_candidates"] = cand.count()
    out["minhash_candidate_sec"] = round(time.time() - t0, 3)
    out["minhash_pairs"] = jaccard_verify(cand, sh, threshold=0.8).count()
    out["minhash_total_sec"] = round(time.time() - t0, 3)
    sh.unpersist()
    cand.unpersist()

    t0 = time.time()
    pairs = simhash_near_pairs(
        simhash(docs, hash_fn="xxhash64"), max_hamming=3, max_bucket=500
    )
    out["simhash_pairs"] = pairs.count()
    out["simhash_sec"] = round(time.time() - t0, 3)
    spark.stop()
    return out


def ngram_once(cpus: int, n_docs: int) -> dict:
    """Subprocess entry: repeated-8-gram span dedup (operators/ngram_dedup)
    over the Zipf webtext corpus with every 100th doc re-added verbatim —
    the planted copies are wall-to-wall duplicated spans, so
    `full_dup_docs` (docs whose every token is inside a duplicated window)
    must cover all planted pairs; wall time evidences that the md5-keyed
    n-gram shuffle scales like the postings build shuffle it mirrors."""
    from pyspark.sql import functions as F

    from knowledgeir_spark.operators.ngram_dedup import repeated_ngram_stats
    from knowledgeir_spark.session import get_spark

    spark = get_spark(cpus=cpus, app_name=f"kir-bench-ngram-{n_docs}")
    base = spark.read.parquet(webtext_path(n_docs))
    base.select(F.sum(F.length("text"))).collect()  # warm page cache
    dups = base.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + n_docs
    )
    docs = base.unionByName(dups)
    planted = n_docs // 100 + (1 if n_docs % 100 else 0)
    t0 = time.time()
    stats = repeated_ngram_stats(docs, n=8, min_count=2)
    agg = stats.agg(
        F.count("*").alias("docs"),
        F.sum("n_dup_ngrams").alias("dup_ngrams"),
        F.sum((F.col("n_dup_tokens") > 0).cast("long")).alias("docs_with_dups"),
        F.sum(
            (
                (F.col("n_dup_tokens") == F.col("n_tokens"))
                & (F.col("n_tokens") >= 8)
            ).cast("long")
        ).alias("full_dup_docs"),
    ).collect()[0]
    wall = round(time.time() - t0, 3)
    spark.stop()
    return {
        "cpus": cpus, "n_docs": n_docs, "planted_dup_docs": 2 * planted,
        "ngram_span_sec": wall,
        "docs_scored": int(agg["docs"]),
        "dup_ngrams": int(agg["dup_ngrams"]),
        "docs_with_dups": int(agg["docs_with_dups"]),
        "full_dup_docs": int(agg["full_dup_docs"]),
    }


def _timed_leg(fn, n: int):
    """Best-of-N for an in-process bench leg on this shared, steal-prone VM
    (round-3 lesson: three sf0.1 Spark legs regressed up to +35% with no
    interference evidence attached).  Runs fn() n times, records every
    run's wall time AND its /proc/stat steal ratio, returns (best_sec,
    evidence_dict, result_of_best_run) — min is the least-interfered run;
    the per-run steal columns let a reader attribute any outlier."""
    runs, steals, results = [], [], []
    for _ in range(n):
        busy0, steal0 = _host_busy_steal()
        t0 = time.time()
        results.append(fn())
        runs.append(round(time.time() - t0, 3))
        busy1, steal1 = _host_busy_steal()
        db, ds = busy1 - busy0, steal1 - steal0
        steals.append(round(ds / max(db + ds, 1), 4))
    i = min(range(len(runs)), key=lambda j: runs[j])
    return runs[i], {"runs": runs, "steal_ratios": steals}, results[i]


def build_in_subprocess(
    cpus: int, n_docs: int | None = None, timeout_s: int = 900,
) -> dict | None:
    """One isolated build; None on timeout (the shared VM occasionally
    wedges a JVM for many minutes — a hung leg must not hang the whole
    bench; callers take the min over the legs that completed).  Each run
    records the host steal ratio over its window so interference is
    visible in the artifact."""
    return _subprocess_leg(
        {
            "KIR_BENCH_BUILD_CPUS": str(cpus),
            "KIR_BENCH_BUILD_DOCS": str(n_docs or N_DOCS),
        },
        timeout_s, f"build (cpus={cpus})",
    )


def dedup_in_subprocess(
    cpus: int, n_docs: int, timeout_s: int = 1800
) -> dict | None:
    return _subprocess_leg(
        {
            "KIR_BENCH_DEDUP_RUN_DOCS": str(n_docs),
            "KIR_BENCH_DEDUP_RUN_CPUS": str(cpus),
        },
        timeout_s, f"dedup (n_docs={n_docs})",
    )


def _subprocess_leg(env_overrides: dict, timeout_s: int, label: str) -> dict | None:
    env = dict(os.environ, **env_overrides)
    busy0, steal0 = _host_busy_steal()
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True, check=True,
            timeout=timeout_s,
        )
    except subprocess.TimeoutExpired:
        print(
            f"WARN: {label} subprocess timed out after "
            f"{timeout_s}s; skipping this leg", file=sys.stderr,
        )
        return None
    except subprocess.CalledProcessError as e:
        print(
            f"WARN: {label} subprocess failed (rc={e.returncode}); "
            f"stderr tail:\n{(e.stderr or '')[-2000:]}", file=sys.stderr,
        )
        return None
    busy1, steal1 = _host_busy_steal()
    res = json.loads(out.stdout.strip().splitlines()[-1])
    db, ds = busy1 - busy0, steal1 - steal0
    res["steal_ratio"] = round(ds / max(db + ds, 1), 4)
    return res


def main() -> None:
    from knowledgeir_spark import parity
    from knowledgeir_spark.fixtures.webpages import gen_queries
    from knowledgeir_spark.index.query import IndexReader
    from knowledgeir_spark.session import get_spark

    results: dict[str, float] = {}
    extras: dict = {}

    ensure_webtext(N_DOCS)

    # 1. index build throughput (isolated subprocess, best of 2 — the
    # shared VM's steal bursts can rob a single run; see scaling note)
    b_runs = [b for b in (build_in_subprocess(CPUS, N_DOCS) for _ in range(2)) if b]
    if not b_runs:  # both legs wedged: one last long-leash attempt
        b_runs = [b for b in [build_in_subprocess(CPUS, N_DOCS, timeout_s=1800)] if b]
    if not b_runs:
        sys.exit(
            "FATAL: every index-build subprocess timed out (including the "
            "1800s long-leash retry) — host too contended to measure; rerun "
            "when idle"
        )
    b_hi = min(b_runs, key=lambda b: b["build_sec"])
    results["index_build"] = b_hi["build_sec"]
    extras["index_build_runs"] = [b["build_sec"] for b in b_runs]
    extras["index_build_steal_ratios"] = [b["steal_ratio"] for b in b_runs]
    extras["index_docs_per_sec"] = round(N_DOCS / b_hi["build_sec"], 1)
    extras["n_docs"] = N_DOCS

    # 2. two-parallelism scaling evidence (N vs 4N cores, each isolated),
    # measured at the COMPUTE-DOMINATED corpus size (1M docs by default):
    # per-stage fixed costs (~15-20s of job scheduling/stage commits)
    # dominate small corpora, so a 100k-doc pair measures overhead, not
    # scaling.  Pair default (1, 4): this host's memory bandwidth saturates
    # at ~4-8 parallel string-processing workers (verified framework-
    # independently with raw multiprocessing — BENCH/BASELINE.md), and after
    # the round-2 vectorized encoder the per-core throughput is high enough
    # that an 8-core high leg is already partially DRAM-bound — so (1, 4)
    # keeps BOTH legs under the host ceiling (what a multi-node cluster
    # looks like, where each executor brings its own memory channels); the
    # (2, 8) pair is attached as a labeled secondary when cached.
    # The 1M pair costs ~25 min to measure, so the result is cached keyed on
    # a fingerprint of the build-path source: any code change re-measures,
    # an unchanged build reuses the prior measurement (labeled "cached").
    if os.environ.get("KIR_BENCH_SCALING", "1") == "1":
        lo = int(os.environ.get("KIR_BENCH_SCALE_LOW", "1"))
        hi = int(os.environ.get("KIR_BENCH_SCALE_HIGH", "4"))
        scale_docs = int(os.environ.get("KIR_BENCH_SCALE_DOCS", "1000000"))
        fp = _build_code_fingerprint()
        cache_key = os.path.join(
            CACHE, f"scaling_{lo}_{hi}_{scale_docs}_{fp}.json"
        )
        if os.path.exists(cache_key) and os.environ.get(
            "KIR_BENCH_SCALING_FRESH"
        ) != "1":
            with open(cache_key) as f:
                extras["scaling"] = json.load(f)
            extras["scaling"]["cached"] = True
        else:
            ensure_webtext(scale_docs)
            # the host is a shared VM with intermittent CPU steal (historical
            # steal ~18% of user time in /proc/stat): any single run can be
            # robbed mid-build.  Standard practice on noisy hosts: take the
            # MINIMUM of N runs per leg (least-interfered run = closest to
            # the machine's true throughput); all runs are recorded with
            # their measured steal ratio.  Legs run INTERLEAVED (hi, lo, hi,
            # lo, ...) so a steal burst cannot bias one whole leg the way a
            # grouped schedule can; if a leg's best run was still
            # steal-polluted (ratio above KIR_BENCH_MAX_STEAL), up to
            # KIR_BENCH_SCALE_EXTRA extra runs retry it.
            n_runs = int(os.environ.get("KIR_BENCH_SCALE_RUNS", "3"))
            max_steal = float(os.environ.get("KIR_BENCH_MAX_STEAL", "0.03"))
            n_extra = int(os.environ.get("KIR_BENCH_SCALE_EXTRA", "2"))
            legs: dict[int, list[dict]] = {hi: [], lo: []}
            for _ in range(n_runs):
                for c in (hi, lo):
                    b = build_in_subprocess(c, scale_docs)
                    if b:
                        legs[c].append(b)
            for c in (hi, lo):
                extra = n_extra
                while (
                    extra > 0
                    and legs[c]
                    and min(legs[c], key=lambda b: b["build_sec"])[
                        "steal_ratio"
                    ] > max_steal
                ):
                    b = build_in_subprocess(c, scale_docs)
                    if b:
                        legs[c].append(b)
                    extra -= 1
            runs_hi = [b["build_sec"] for b in legs[hi]]
            runs_lo = [b["build_sec"] for b in legs[lo]]
            steal_hi = [b["steal_ratio"] for b in legs[hi]]
            steal_lo = [b["steal_ratio"] for b in legs[lo]]
            if not runs_hi or not runs_lo:
                # a leg with zero completed runs cannot be measured — report
                # the failure instead of crashing on min([]) and move on
                print(
                    "WARN: a scaling leg had zero completed runs "
                    f"(lo={len(runs_lo)}/{n_runs}, hi={len(runs_hi)}/"
                    f"{n_runs}) — skipping the scaling block this run; "
                    "rerun on an idle host", file=sys.stderr,
                )
                extras["scaling"] = {
                    "error": "every run of one scaling leg timed out",
                    "runs_low": runs_lo, "runs_high": runs_hi,
                }
            else:
                thr_hi = scale_docs / min(runs_hi)
                thr_lo = scale_docs / min(runs_lo)
                eff = thr_hi / (thr_lo * (hi / lo))
                extras["scaling"] = {
                    "cpus_low": lo, "cpus_high": hi, "n_docs": scale_docs,
                    "build_sec_low": min(runs_lo),
                    "build_sec_high": min(runs_hi),
                    "runs_low": runs_lo, "runs_high": runs_hi,
                    "steal_ratio_low": steal_lo, "steal_ratio_high": steal_hi,
                    "docs_per_sec_low": round(thr_lo, 1),
                    "docs_per_sec_high": round(thr_hi, 1),
                    "efficiency": round(eff, 3),
                    "build_code_fingerprint": fp,
                    "note": (
                        "compute-dominated pair (north_rule two-cluster-size "
                        f"criterion, sandbox proxy: same job at {lo} vs {hi} "
                        "cores, fresh subprocess each, warm page cache, "
                        "legs interleaved in time, min of "
                        f"{len(runs_lo)}/{len(runs_hi)} runs per leg with "
                        "per-run hypervisor steal ratios recorded — "
                        "shared-VM CPU steal makes single runs unreliable)"
                    ),
                }
                with open(cache_key, "w") as f:
                    json.dump(extras["scaling"], f)
        # transparency: the wider (2, 8) pair when measured for this code
        # version — its high leg runs into the single-host DRAM ceiling
        # (see BENCH/BASELINE.md), attached so the drop-off is visible
        alt_key = os.path.join(CACHE, f"scaling_2_8_{scale_docs}_{fp}.json")
        if (lo, hi) != (2, 8) and os.path.exists(alt_key):
            with open(alt_key) as f:
                extras["scaling_2_8_dram_bound"] = json.load(f)
            extras["scaling_2_8_dram_bound"]["note"] = (
                "secondary pair: the 8-core leg is partially memory-"
                "bandwidth-bound on this single host (framework-free "
                "multiprocessing probe shows the ceiling at ~4-8 workers "
                "for string-heavy work) — on a multi-node cluster each "
                "executor has its own memory channels, which the primary "
                "(1->4) in-ceiling pair emulates"
            )

    # 2b. dedup at bench scale (minhash-LSH + simhash over 250k and 1M
    # Zipf-skewed webtext docs): wall + candidate-pair counts at two sizes
    # evidence ~linear candidate growth.  ~2-4 min when fresh, so cached
    # keyed on a dedup-code fingerprint like the scaling pair.
    if os.environ.get("KIR_BENCH_DEDUP", "1") == "1":
        dfp = _dedup_code_fingerprint()
        dedup_out = []
        for nd in (250_000, 1_000_000):
            key = os.path.join(CACHE, f"dedup_{nd}_{dfp}.json")
            if os.path.exists(key):
                with open(key) as f:
                    leg = json.load(f)
                leg["cached"] = True
            else:
                ensure_webtext(nd)
                leg = dedup_in_subprocess(CPUS, nd)
                if leg:
                    with open(key, "w") as f:
                        json.dump(leg, f)
            if leg:
                dedup_out.append(leg)
        extras["dedup_scale"] = {
            "legs": dedup_out,
            "dedup_code_fingerprint": dfp,
            "note": (
                "corpus = webtext + every-100th doc duplicated (known true "
                "positives).  minhash: 3-gram shingles, df<=n/2 stop-"
                "shingle cut, 16 hashes x 4 bands (xxhash64 fast path), "
                "bucket cap 500, exact-Jaccard verify at 0.8; simhash: "
                "64-bit xxhash64, 4x16-bit bands, cap 500, hamming<=3. "
                "Two corpus sizes show candidate growth vs docs."
            ),
        }

    # 2b1b. repeated-ngram span dedup at bench scale: the md5-keyed n-gram
    # shuffle is the same shape as the postings build; one cached leg
    # records wall + span counts with planted full-duplicate docs.
    if os.environ.get("KIR_BENCH_NGRAM", "1") == "1":
        nfp = _ngram_code_fingerprint()
        ngram_out = []
        for nd in (250_000,):
            key = os.path.join(CACHE, f"ngram_{nd}_{nfp}.json")
            if os.path.exists(key):
                with open(key) as f:
                    leg = json.load(f)
                leg["cached"] = True
            else:
                ensure_webtext(nd)
                leg = _subprocess_leg(
                    {
                        "KIR_BENCH_NGRAM_RUN_DOCS": str(nd),
                        "KIR_BENCH_NGRAM_RUN_CPUS": str(CPUS),
                    },
                    1800, f"ngram spans (n_docs={nd})",
                )
                if leg:
                    with open(key, "w") as f:
                        json.dump(leg, f)
            if leg:
                ngram_out.append(leg)
        extras["ngram_span_scale"] = {
            "legs": ngram_out,
            "ngram_code_fingerprint": nfp,
            "note": (
                "corpus = webtext + every-100th doc duplicated verbatim; "
                "8-gram windows, min_count=2, md5 keys.  full_dup_docs "
                "must cover the planted copies (both halves of each pair "
                "are wall-to-wall duplicated spans) EXCEPT copies shorter "
                "than 8 tokens, which cannot carry a window: at 250k docs "
                "the Zipf corpus has 18 sub-8-token planted sources (36 "
                "copies), so full_dup_docs = 5000 - 36 = 4964 exactly."
            ),
        }

    # 2b1c. phrase serving at bench scale (verdict item 5): docstore vs
    # positional verify at 1M docs, cached on index+phrase code.
    if os.environ.get("KIR_BENCH_PHRASE", "1") == "1":
        pfp = _code_fingerprint((
            "knowledgeir_spark/index/build.py",
            "knowledgeir_spark/index/docstore.py",
            "knowledgeir_spark/index/positions.py",
            "knowledgeir_spark/index/query.py",
            "knowledgeir_spark/session.py",
        ))
        p_docs = int(os.environ.get("KIR_BENCH_PHRASE_DOCS", "1000000"))
        key = os.path.join(CACHE, f"phrase_{p_docs}_{pfp}.json")
        if os.path.exists(key):
            with open(key) as f:
                leg = json.load(f)
            leg["cached"] = True
        else:
            ensure_webtext(p_docs)
            leg = _subprocess_leg(
                {
                    "KIR_BENCH_PHRASE_RUN_DOCS": str(p_docs),
                    "KIR_BENCH_PHRASE_RUN_CPUS": str(CPUS),
                    "KIR_BENCH_PHRASE_RUN_FP": pfp,
                },
                3600, f"phrase probe (n_docs={p_docs})",
            )
            if leg:
                with open(key, "w") as f:
                    json.dump(leg, f)
        if leg:
            extras["phrase_scale"] = leg

    # 2b1d. streaming freshness drill (verdict item 6): 1M base + 1%
    # rolling deltas through incremental_index -> append compact ->
    # reader; cached on the streaming+compaction code.
    if os.environ.get("KIR_BENCH_FRESH", "1") == "1":
        ffp = _code_fingerprint((
            "knowledgeir_spark/index/build.py",
            "knowledgeir_spark/index/compact.py",
            "knowledgeir_spark/streaming/incremental.py",
            "knowledgeir_spark/plans/lineage.py",
            "knowledgeir_spark/session.py",
        ))
        f_docs = int(os.environ.get("KIR_BENCH_FRESH_DOCS", "1000000"))
        key = os.path.join(CACHE, f"fresh_{f_docs}_{ffp}.json")
        if os.path.exists(key):
            with open(key) as f:
                leg = json.load(f)
            leg["cached"] = True
        else:
            ensure_webtext(f_docs)
            leg = _subprocess_leg(
                {
                    "KIR_BENCH_FRESH_RUN_DOCS": str(f_docs),
                    "KIR_BENCH_FRESH_RUN_CPUS": str(CPUS),
                    "KIR_BENCH_FRESH_RUN_FP": ffp,
                },
                3600, f"freshness drill (n_docs={f_docs})",
            )
            if leg:
                with open(key, "w") as f:
                    json.dump(leg, f)
        if leg:
            extras["freshness"] = leg

    # 2b1e. suggest/spell dictionary at web vocabulary scale (verdict item
    # 7): local delete-key dict build + probe latency at 100k/1M/2M terms
    # vs the distributed fallback; cached on the suggest code.
    if os.environ.get("KIR_BENCH_SUGGEST", "1") == "1":
        sfp = _code_fingerprint((
            "knowledgeir_spark/index/query.py",
            "knowledgeir_spark/operators/spell.py",
            "knowledgeir_spark/session.py",
        ))
        key = os.path.join(CACHE, f"suggest_{sfp}.json")
        if os.path.exists(key):
            with open(key) as f:
                leg = json.load(f)
            leg["cached"] = True
        else:
            leg = _subprocess_leg(
                {
                    "KIR_BENCH_SUGGEST_RUN": "1",
                    "KIR_BENCH_SUGGEST_RUN_CPUS": str(CPUS),
                },
                3600, "suggest vocab-scale probe",
            )
            if leg:
                with open(key, "w") as f:
                    json.dump(leg, f)
        if leg:
            extras["suggest_scale"] = leg

    # 2b2. serving block-skip probe: impact-ordered blocks vs doc-ordered,
    # and doc-id sparsity (stride 16), at 1M/2M docs — the measured
    # evidence that block bounds discriminate (skip rate) and what that
    # buys in latency.  Cached per build-code fingerprint.
    if os.environ.get("KIR_BENCH_SKIP_PROBE", "1") == "1":
        bfp = _build_code_fingerprint()
        probe_out = []
        for nd, border, stride in (
            (2_000_000, "docid", 1),
            (2_000_000, "impact", 1),
            (1_000_000, "impact", 1),
            (1_000_000, "docid", 16),
        ):
            key = os.path.join(CACHE, f"probe_{nd}_{border}_s{stride}_{bfp}.json")
            if os.path.exists(key):
                with open(key) as f:
                    leg = json.load(f)
                leg["cached"] = True
            else:
                ensure_webtext(nd)
                leg = _subprocess_leg(
                    {
                        "KIR_BENCH_PROBE_RUN": "1",
                        "KIR_BENCH_PROBE_DOCS": str(nd),
                        "KIR_BENCH_PROBE_ORDER": border,
                        "KIR_BENCH_PROBE_STRIDE": str(stride),
                        "KIR_BENCH_PROBE_FP": bfp,
                    },
                    1800, f"serving probe ({nd}, {border}, s{stride})",
                )
                if leg:
                    with open(key, "w") as f:
                        json.dump(leg, f)
            if leg:
                probe_out.append(leg)
        extras["serving_block_skip"] = {
            "legs": probe_out,
            "build_code_fingerprint": bfp,
            "note": (
                "50-query serving set; skip-rate pass has the decode cache "
                "disabled so blocks_decoded is the honest per-query decode "
                "work; latency pass uses the default cache"
            ),
        }

    if os.environ.get("KIR_BENCH_BUILDS_ONLY") == "1":
        print(json.dumps({
            "metric": "kir_spark_index_build", "value": b_hi["build_sec"],
            "unit": "sec", "queries": {"index_build": b_hi["build_sec"]},
            "sf": float(SF), **extras,
        }))
        return

    spark = get_spark(cpus=CPUS, app_name="kir-bench")

    # 3. query latency over the reference-shaped query set.  Every leg is
    # best-of-N with per-run steal evidence (_timed_leg) — round-3's
    # unattributed +15-35% regressions were single-run legs on a stolen
    # window.
    n_leg = int(os.environ.get("KIR_BENCH_LEG_RUNS", "3"))
    leg_evidence: dict[str, dict] = {}
    reader = IndexReader(spark, b_hi["idx_dir"])
    queries = [(r.qid, r.query) for r in gen_queries(N_QUERIES).itertuples()]
    reader.search(queries[:1], k=K).collect()  # warm up

    def _spark_serial():
        # the distributed path's serial latency is the Spark scheduling
        # floor — 10 samples characterize it; the serving path runs all 50
        lat = []
        for q in queries[:10]:
            tq = time.time()
            reader.search([q], k=K).collect()
            lat.append(time.time() - tq)
        return lat

    sec, ev, lat = _timed_leg(_spark_serial, n_leg)
    results["query_serial_spark_10"] = sec
    leg_evidence["query_serial_spark_10"] = ev
    lat.sort()
    extras["query_spark_p50_sec"] = round(statistics.median(lat), 4)
    extras["query_spark_p95_sec"] = round(lat[int(len(lat) * 0.95) - 1], 4)

    sec, ev, _ = _timed_leg(
        lambda: reader.search(queries, k=K).collect(), n_leg
    )
    results["query_batch_50"] = sec
    leg_evidence["query_batch_50"] = ev

    # serving path (coordinator-local pruned read + numpy scorer; no Spark
    # job per query) — rank-identical to the distributed path (tested).
    # Reps share the reader's decoded-postings cache, so run 1 is the
    # cold-ish pass and the min is warm steady state — both visible in
    # leg_evidence.
    reader.search_local(queries[:1], k=K)

    def _serving():
        lat2 = []
        for q in queries:
            tq = time.time()
            reader.search_local([q], k=K)
            lat2.append(time.time() - tq)
        return lat2

    sec, ev, lat2 = _timed_leg(_serving, n_leg)
    results["query_serving_50"] = sec
    leg_evidence["query_serving_50"] = ev
    lat2.sort()
    extras["query_p50_sec"] = round(statistics.median(lat2), 4)
    extras["query_p95_sec"] = round(lat2[int(len(lat2) * 0.95) - 1], 4)

    # cold-start: fresh readers (empty term_stats dict / arrow dataset /
    # decode cache) with and without prewarm(), one pass over the 50
    # queries each — the prewarmed coordinator should cut the first-touch
    # head-term penalty (target: prewarmed cold p95 <= 2x warm p95)
    def _cold_pass(do_prewarm: bool):
        rd = IndexReader(spark, b_hi["idx_dir"])
        pw = rd.prewarm() if do_prewarm else None
        lat = []
        for q in queries:
            tq = time.time()
            rd.search_local([q], k=K)
            lat.append(time.time() - tq)
        lat.sort()
        return {
            "p50_sec": round(statistics.median(lat), 4),
            "p95_sec": round(lat[int(len(lat) * 0.95) - 1], 4),
            "total_sec": round(sum(lat), 3),
            **({"prewarm": pw} if pw else {}),
        }

    extras["serving_cold"] = _cold_pass(False)
    extras["serving_cold_prewarmed"] = _cold_pass(True)

    # 4. driver-contract flagship + relational parity queries at sf
    for name in ("bm25_topk", "pricing_summary", "top_customers"):
        sec, ev, _ = _timed_leg(
            lambda: parity.queries()[name](spark, SF_DIR).collect(), n_leg
        )
        results[name] = sec
        leg_evidence[name] = ev

    # 5. round-4 serving features (spell / BM25F / snippets), recorded in
    # extras rather than results so the headline suite total stays
    # comparable with earlier rounds' artifacts
    from knowledgeir_spark import parity_web

    web_legs: dict[str, dict] = {}
    for name, fn in (
        ("spell_correct", parity_web.q_spell_correct),
        ("bm25f_topk", parity_web.q_bm25f_topk),
        ("snippets", parity_web.q_snippets),
        ("bool_and_topk", parity_web.q_bool_and_topk),
        ("phrase_topk", parity_web.q_phrase_topk),
        ("facet_counts_serving", parity_web.q_facet_counts_serving),
        ("facet_counts_and", parity_web.q_facet_counts_and),
    ):
        sec, ev, _ = _timed_leg(lambda: fn(spark, SF_DIR).collect(), n_leg)
        web_legs[name] = {"sec": sec, **ev}
    extras["web_serving_legs"] = web_legs
    extras["leg_evidence"] = leg_evidence

    # 6. anchor hot-dst skew probe: one destination with planted in-links
    # at two degrees (10^6 and 8*10^6 — real anchor graphs are power-law)
    # + 10^6 background edges over 100k dsts.  Evidence that the DEFAULT
    # single-window cap has no hot-key straggler: Catalyst compiles the
    # row_number cap to a map-side PARTIAL WindowGroupLimit (asserted on
    # the live plan here and in tests/test_plans.py), so wall tracks TOTAL
    # rows, not the hot key's degree; the explicit salted two-phase cap is
    # measured alongside for comparison (it pays an extra shuffle).
    # Cached on the anchor-op fingerprint.
    if os.environ.get("KIR_BENCH_ANCHOR_SKEW", "1") == "1":
        afp = _code_fingerprint(("knowledgeir_spark/operators/anchor.py",))
        akey = os.path.join(CACHE, f"anchor_skew_{afp}.json")
        if os.path.exists(akey):
            with open(akey) as f:
                leg = json.load(f)
            leg["cached"] = True
        else:
            from pyspark.sql import functions as F

            from knowledgeir_spark.operators.anchor import aggregate_anchor_text

            def _links(hot_deg: int):
                hot = spark.range(hot_deg).select(
                    F.col("id").alias("src"),
                    F.lit(0).cast("long").alias("dst"),
                    F.lit(1).alias("link_id"),
                    F.concat(F.lit("hot anchor "), F.col("id")).alias(
                        "anchor_text"
                    ),
                )
                bg = spark.range(1_000_000).select(
                    F.col("id").alias("src"),
                    (F.col("id") % 100_000 + 1).alias("dst"),
                    F.lit(1).alias("link_id"),
                    F.concat(F.lit("bg "), F.col("id")).alias("anchor_text"),
                )
                return hot.unionByName(bg)

            leg = {"bg_edges": 1_000_000, "max_inlinks": 1000, "legs": {}}
            for hot_deg in (1_000_000, 8_000_000):
                links = _links(hot_deg)
                row = {}
                for label, buckets in (("single_window", 1), ("salted_32", 32)):
                    t0 = time.time()
                    aggregate_anchor_text(
                        links, max_inlinks=1000, salt_buckets=buckets
                    ).count()
                    row[label] = round(time.time() - t0, 2)
                leg["legs"][f"hot_{hot_deg}"] = row
            plan = (
                aggregate_anchor_text(_links(1000), max_inlinks=1000)
                ._jdf.queryExecution().executedPlan().toString()
            )
            leg["partial_window_group_limit_in_plan"] = (
                "WindowGroupLimit" in plan and "Partial" in plan
            )
            with open(akey, "w") as f:
                json.dump(leg, f)
        extras["anchor_skew"] = leg

    spark.stop()

    # Bulky evidence goes to a file artifact; the FINAL stdout line stays
    # compact so the driver's tail-capture always parses it (round-4's
    # BENCH_r04.json had parsed=null because the one-line JSON outgrew the
    # captured tail).
    bulky = [
        k for k in (
            "leg_evidence", "dedup_scale", "ngram_span_scale",
            "serving_block_skip", "web_serving_legs", "scaling_2_8_dram_bound",
            "phrase_scale", "freshness", "suggest_scale", "anchor_skew",
            "serving_cold", "serving_cold_prewarmed",
        ) if k in extras
    ]
    evidence = {k: extras.pop(k) for k in bulky}
    # one-line summaries of the moved legs stay on the headline line
    ps = evidence.get("phrase_scale")
    if ps and "docstore" in ps:
        extras["phrase_p50_sec"] = {
            "docstore": ps["docstore"]["p50_sec"],
            "positions": ps["positions"]["p50_sec"],
        }
    fr = evidence.get("freshness")
    if fr and fr.get("batches"):
        extras["freshness"] = {
            "delta_docs_per_sec": fr["sustained_delta_docs_per_sec"],
            "ttq_p50_sec": round(statistics.median(
                [b["time_to_queryable_sec"] for b in fr["batches"]]), 2),
            "replay_noop": fr.get("stream_replay_is_noop"),
            "crash_heal": fr.get("crash_heal_restores_stats"),
        }
    sg = evidence.get("suggest_scale")
    if sg and sg.get("local", {}).get("2000000"):
        extras["suggest_2m"] = {
            "dict_build_sec": sg["local"]["2000000"]["dict_build_sec"],
            "probe_p50_us": sg["local"]["2000000"]["probe_p50_us"],
            "dist_batch_sec": sg.get("distributed", {}).get("batch_wall_sec"),
        }
    an = evidence.get("anchor_skew")
    if an and an.get("legs"):
        worst = an["legs"].get("hot_8000000") or next(iter(an["legs"].values()))
        extras["anchor_hot8m_single_window_sec"] = worst.get("single_window")
    for k in ("serving_cold", "serving_cold_prewarmed"):
        if k in evidence:
            extras[k + "_p95_sec"] = evidence[k]["p95_sec"]
    sc = extras.get("scaling")
    if sc and "efficiency" in sc:
        evidence["scaling_full"] = sc
        extras["scaling"] = {
            k: sc[k] for k in (
                "cpus_low", "cpus_high", "n_docs", "build_sec_low",
                "build_sec_high", "docs_per_sec_low", "docs_per_sec_high",
                "efficiency",
            ) if k in sc
        }
        if sc.get("cached"):
            extras["scaling"]["cached"] = True
    out = {
        "metric": "kir_spark_headline_suite",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "sf": float(SF),
        **extras,
        "evidence_file": "BENCH/evidence_latest.json",
    }
    evidence["headline"] = out
    ev_path = os.path.join(REPO, "BENCH", "evidence_latest.json")
    os.makedirs(os.path.dirname(ev_path), exist_ok=True)
    with open(ev_path, "w") as f:
        json.dump(evidence, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    if os.environ.get("KIR_BENCH_BUILD_CPUS"):
        print(
            json.dumps(
                build_once(
                    int(os.environ["KIR_BENCH_BUILD_CPUS"]),
                    int(os.environ.get("KIR_BENCH_BUILD_DOCS", N_DOCS)),
                )
            )
        )
    elif os.environ.get("KIR_BENCH_PROBE_RUN"):
        print(
            json.dumps(
                serving_probe_once(
                    int(os.environ.get("KIR_BENCH_PROBE_CPUS", "8")),
                    int(os.environ["KIR_BENCH_PROBE_DOCS"]),
                    os.environ.get("KIR_BENCH_PROBE_ORDER", "docid"),
                    int(os.environ.get("KIR_BENCH_PROBE_STRIDE", "1")),
                    os.environ.get("KIR_BENCH_PROBE_FP", "nofp"),
                )
            )
        )
    elif os.environ.get("KIR_BENCH_PHRASE_RUN_DOCS"):
        print(
            json.dumps(
                phrase_probe_once(
                    int(os.environ.get("KIR_BENCH_PHRASE_RUN_CPUS", str(CPUS))),
                    int(os.environ["KIR_BENCH_PHRASE_RUN_DOCS"]),
                    os.environ.get("KIR_BENCH_PHRASE_RUN_FP", "nofp"),
                )
            )
        )
    elif os.environ.get("KIR_BENCH_FRESH_RUN_DOCS"):
        print(
            json.dumps(
                freshness_once(
                    int(os.environ.get("KIR_BENCH_FRESH_RUN_CPUS", str(CPUS))),
                    int(os.environ["KIR_BENCH_FRESH_RUN_DOCS"]),
                    os.environ.get("KIR_BENCH_FRESH_RUN_FP", "nofp"),
                )
            )
        )
    elif os.environ.get("KIR_BENCH_SUGGEST_RUN"):
        print(
            json.dumps(
                suggest_probe_once(
                    int(os.environ.get("KIR_BENCH_SUGGEST_RUN_CPUS", str(CPUS)))
                )
            )
        )
    elif os.environ.get("KIR_BENCH_NGRAM_RUN_DOCS"):
        print(
            json.dumps(
                ngram_once(
                    int(os.environ.get("KIR_BENCH_NGRAM_RUN_CPUS", str(CPUS))),
                    int(os.environ["KIR_BENCH_NGRAM_RUN_DOCS"]),
                )
            )
        )
    elif os.environ.get("KIR_BENCH_DEDUP_RUN_DOCS"):
        print(
            json.dumps(
                dedup_once(
                    int(os.environ.get("KIR_BENCH_DEDUP_RUN_CPUS", str(CPUS))),
                    int(os.environ["KIR_BENCH_DEDUP_RUN_DOCS"]),
                )
            )
        )
    else:
        main()
