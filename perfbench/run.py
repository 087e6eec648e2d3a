"""knowledgeir_spark benchmark: build -> serve -> batch -> refresh on a
seeded corpus, with correctness checks against the oracle.

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  Each run starts its own Spark
session, works in a private scratch directory under the checkout and
deletes it on exit.  The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).  The exit code is 0 only
when every operation succeeded and every correctness check passed.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import Tracer, spark_span_metrics  # noqa: E402
from workload import Corpus, delta_docs, rng_for  # noqa: E402

NOMINAL_SECONDS = 20  # one measured round fills about this much on 4 cores
BASE_DOCS = 3_000
WARMUP_DOCS = 400  # the cold build that starts the JVM's JIT and the workers
SERVE_BURST = 80     # timed search_local calls per burst, 3 bursts per round
SERVE_WARMUP = 30    # untimed search_local calls before the first round
REFRESH_QUERIES = 100  # Zipf queries on each refreshed, cold reader
SERVE_K = 20
BATCH_K = 100
BATCH_SIZE = 50
CHECK_QUERIES = 8
DF_SAMPLE = 40
SCORE_TOL = 1e-6
WATCHDOG_S = 170  # a run that is still going by then fails
# printed for people next to the JSON metrics, whose units BENCHMARK.json holds
WALL_UNITS = {"serve_p50_ms": "ms",
              "serve_p95_ms": "ms", "serve_p99_ms": "ms",
              "serve_qps": "queries/s", "batch_qps": "queries/s",
              "refresh_docs_per_s": "docs/s", "refresh_query_p50_ms": "ms"}
DOC_SCHEMA = "doc_id long, text string"
LAYERS = ("session", "text", "build", "lineage", "query", "ingest",
          "compact", "oracle")


@dataclass(frozen=True)
class Workload:
    stream: str             # "zipf" (head terms recur) | "distinct"
    prewarm: bool           # prewarm the serving reader's decode cache
    delta_docs: int         # docs per refresh delta
    auto_defrag_files: int  # compact()'s bucket file-count threshold


WORKLOADS = {
    # Zipf stream over a prewarmed reader: the decode cache is hit; 1%
    # deltas append without re-blocking any bucket
    "query": Workload(stream="zipf", prewarm=True, delta_docs=30,
                      auto_defrag_files=32),
    # no query term recurs, so the decode cache is bypassed; 5% deltas,
    # each adding up to 8 files (one per shuffle partition) to every
    # bucket, so every fold re-blocks the buckets
    "refresh": Workload(stream="distinct", prewarm=False, delta_docs=150,
                        auto_defrag_files=8),
}


def _pin_environment(work: str) -> None:
    """Private scratch for Spark, the JVM and Python temp files, and a
    worker import path that does not depend on the working directory.
    Must run before the JVM starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata files in the system /tmp, from spark-submit's launcher
    # JVM or from the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' pyspark-shell"
    )


def _write_docs(path: str, ids, texts) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()),
                  "text": pa.array(texts, pa.string())}),
        tmp,
    )
    os.replace(tmp, path)  # the file lands atomically


def _dir_files(path: str):
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            yield os.path.join(dirpath, fn)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _dir_files(path))


def _quantile(values, q: float) -> float:
    return float(np.quantile(np.asarray(values, dtype=float), q))


class Bench:
    def __init__(self, args, workload: Workload):
        self.args = args
        self.w = workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.rounds = max(1, round(args.seconds / NOMINAL_SECONDS))
        self.work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        self.attempted = 0
        self.errors = {layer: 0 for layer in LAYERS}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.tracer = Tracer()

    # -- bookkeeping ---------------------------------------------------
    def check(self, layer: str, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.errors[layer] += 1
            print(f"CHECK FAILED [{layer}]: {what}", file=sys.stderr)

    def put(self, name: str, value: float) -> None:
        self.layer[name] = float(value)

    @property
    def failed(self) -> int:
        return sum(self.errors.values())

    # -- set-up ----------------------------------------------------------
    def start(self) -> None:
        _pin_environment(self.work)
        from knowledgeir_spark.index.build import IndexConfig
        from knowledgeir_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            self.event_log = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        self.spark = get_spark(cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
        self.session_s = time.time() - t0
        self.attempted += 1
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)
        # 8 term buckets: at the default 32, every delta writes 32 files
        # into each of 32 buckets and one fold takes ~40 s on 4 cores
        self.cfg = IndexConfig(n_buckets=8)
        self.corpus = Corpus(self.seed)
        os.makedirs(os.path.join(self.work, "input"))

    def setup(self) -> None:
        """Stand up the serving index: a small build_index on the cold JVM
        and cold Python workers, then the base build on warm ones, then
        open a reader (and prewarm it)."""
        from knowledgeir_spark.index.query import IndexReader

        t0 = time.time()
        inp = os.path.join(self.work, "input")
        ids, texts, _ = self.corpus.docs(rng_for(self.seed, 6), WARMUP_DOCS, 0)
        _write_docs(os.path.join(inp, "warmup.parquet"), ids, texts)
        self.build(os.path.join(inp, "warmup.parquet"),
                   os.path.join(self.work, "warmup_index"), "cold_build")
        # the base build is warm, so it times the build's own work rather
        # than the start of the JIT and the workers
        self.base_ids, self.base_texts, self.base_len = self.corpus.docs(
            rng_for(self.seed, 1), BASE_DOCS, 0)
        self.base_path = os.path.join(inp, "base.parquet")
        _write_docs(self.base_path, self.base_ids, self.base_texts)
        self.index_dir = os.path.join(self.work, "index")
        self.stages = self.build(self.base_path, self.index_dir, "build")
        self.build_s = self.tracer.durations("build")[-1]
        t1 = time.time()
        with self.tracer.span("reader"):
            self.reader = IndexReader(self.spark, self.index_dir)
            self.reader.term_stats_for([])  # the driver-side df dict
            t2 = time.time()
            if self.w.prewarm:
                self.reader.prewarm()
        t3 = time.time()
        self.attempted += 1
        self.setup_s = self.session_s + t3 - t0
        self.open_s, self.prewarm_s = t2 - t1, t3 - t2
        self.index_bytes = _dir_bytes(self.index_dir)

    def build(self, path: str, index_dir: str, span: str) -> dict:
        """One build_index call over the docs at path into index_dir."""
        from knowledgeir_spark.index.build import build_index

        docs = self.spark.read.schema(DOC_SCHEMA).parquet(path)
        with self.tracer.span(span):
            stages = build_index(self.spark, docs, index_dir, self.cfg)
        self.attempted += 1
        self.check("lineage", all(not r.skipped for r in stages.values()),
                   f"{span}: a fresh build reused a committed stage")
        return stages

    def check_build(self) -> None:
        with open(os.path.join(self.index_dir, "field_stats.json")) as f:
            fs = json.load(f)
        self.check("build", fs["n_docs"] == BASE_DOCS,
                   f"n_docs {fs['n_docs']} != {BASE_DOCS}")
        self.check("build", fs["total_len"] == self.base_len,
                   f"total_len {fs['total_len']} != {self.base_len}")

    # -- measured rounds -------------------------------------------------
    def measure(self) -> None:
        """An untimed warm-up, then self.rounds rounds of: serve burst,
        search() batch, serve burst, search() batch, refresh cycle, serve
        burst, search() batch.  Interleaving spreads a passing slowdown of
        the machine over every metric instead of spoiling all samples of
        one."""
        rng = rng_for(self.seed, 3)
        n = self.rounds * 3 * SERVE_BURST
        if self.w.stream == "zipf":
            warm = self.corpus.zipf_queries(rng, SERVE_WARMUP, "w")
            timed = self.corpus.zipf_queries(rng, n, "q")
        else:
            # one draw, so no warm-up term recurs in the timed stream either
            qs = self.corpus.distinct_queries(rng, SERVE_WARMUP + n, "q")
            warm, timed = qs[:SERVE_WARMUP], qs[SERVE_WARMUP:]
        self.check_stream = timed[:CHECK_QUERIES]
        self.serve_queries = timed
        # the refresh cycles fold into a copy, so serving and its checks
        # stay on the base index
        self.refresh_dir = os.path.join(self.work, "refresh_index")
        shutil.copytree(self.index_dir, self.refresh_dir)
        # No warm-up search() batch: the batch metrics take the fastest
        # batch, which leaves out the first batch's start-up cost.
        for q in warm:
            self.reader.search_local([q], k=SERVE_K)
        self.attempted += SERVE_WARMUP

        # per search_local call: wall, and CPU of this process (all threads)
        self.lat: list[float] = []
        self.cpu: list[float] = []
        self.serve_results: dict = {}
        self.qstats = {"blocks_decoded": 0, "blocks_total": 0,
                       "n_essential": 0, "n_scored_terms": 0}
        self.slice_postings: list[float] = []
        self.cache0 = self.reader.last_query_stats()
        self.cycles: list[dict] = []
        self.n_docs, self.total_len = BASE_DOCS, self.base_len
        self.refresh_queries: list = []
        os.makedirs(os.path.join(self.work, "stream"))
        self.qrng = rng_for(self.seed, 4)
        self.batch_rows = None

        def part(size: int, k: int):
            return timed[k * size:(k + 1) * size]

        for r in range(self.rounds):
            self.serve(part(SERVE_BURST, 3 * r))
            self.search(part(BATCH_SIZE, 3 * r))
            self.serve(part(SERVE_BURST, 3 * r + 1))
            self.search(part(BATCH_SIZE, 3 * r + 1))
            self.refresh_cycle(r)
            self.serve(part(SERVE_BURST, 3 * r + 2))
            self.search(part(BATCH_SIZE, 3 * r + 2))
        # peak RSS of the measured work, before the oracle is built
        self.rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    def search(self, batch) -> None:
        with self.tracer.span("search"):
            rows = self.reader.search(batch, k=BATCH_K).collect()
        self.attempted += 1
        if self.batch_rows is None:
            self.batch_rows = rows  # the first batch holds the check sample

    def serve(self, queries) -> None:
        from knowledgeir_spark.oracle.tokenizer import tokenize_query

        r = self.reader
        check_ids = {q[0] for q in self.check_stream}
        for q in queries:
            t0, c0 = time.perf_counter(), time.process_time()
            rows = r.search_local([q], k=SERVE_K)
            self.lat.append(time.perf_counter() - t0)
            self.cpu.append(time.process_time() - c0)
            if q[0] in check_ids:
                self.serve_results[q[0]] = rows
            if self.trace:
                st = r.last_query_stats()
                for key in self.qstats:
                    self.qstats[key] += st.get(key, 0)
                terms = sorted(set(tokenize_query(q[1])))
                self.slice_postings.append(sum(r.term_stats_for(terms).values()))
        self.attempted += len(queries)

    def refresh_cycle(self, c: int) -> None:
        """One delta: land its file, incremental_index, compact(append),
        open a fresh reader and find the marker doc; then Zipf queries on
        that cold reader."""
        from knowledgeir_spark.index.compact import compact
        from knowledgeir_spark.index.query import IndexReader
        from knowledgeir_spark.streaming.incremental import incremental_index

        inp = os.path.join(self.work, "stream")
        t_start = time.time()
        ids, texts, delta_len, marker, marker_doc = delta_docs(
            self.corpus, c, self.w.delta_docs, self.n_docs
        )
        _write_docs(os.path.join(inp, f"delta_{c:04d}.parquet"), ids, texts)
        t_land = time.time()
        with self.tracer.span("ingest"):
            incremental_index(self.spark, inp, self.refresh_dir, DOC_SCHEMA, self.cfg)
        if self.trace:
            before = {os.stat(p).st_ino for p in _dir_files(self.refresh_dir)}
        with self.tracer.span("compact"):
            res = compact(self.spark, self.refresh_dir, self.cfg, mode="append",
                          auto_defrag_files=self.w.auto_defrag_files)
        t_fold = time.time()
        with self.tracer.span("reader"):
            reader = IndexReader(self.spark, self.refresh_dir)
            rows = reader.search_local([("marker", marker)], k=SERVE_K)
        t_found = time.time()
        self.attempted += 3
        self.n_docs += len(ids)
        self.total_len += delta_len
        self.check("ingest", bool(rows) and rows[0][1] == marker_doc
                   and rows[0][3] == 1,
                   f"marker {marker} not at rank 1: {rows[:2]}")
        cyc = {
            "ttq_s": t_found - t_land, "delta_s": self.tracer.durations("ingest")[-1],
            "ttq_cpu_s": sum(self.tracer.cpu(n)[-1]
                             for n in ("ingest", "compact", "reader")),
            "fold_s": self.tracer.durations("compact")[-1],
            "reopen_ms": (t_found - t_fold) * 1000, "docs": len(ids),
            "term_stats_s": (res["term_stats_compacted"].wall_ms / 1000
                             if "term_stats_compacted" in res else 0.0),
            "defrag_s": (res["defrag"]["postings_defragged"].wall_ms / 1000
                         if "defrag" in res else 0.0),
            "defragged": len(res["defrag"]["defragged_buckets"]) if "defrag" in res else 0,
        }
        if self.trace:
            live = [os.path.join(self.refresh_dir, s) for s in ("postings", "term_stats")]
            cyc["new_bytes"] = sum(
                os.path.getsize(p) for d in live for p in _dir_files(d)
                if os.stat(p).st_ino not in before
            )
            cyc["delta_bytes"] = _dir_bytes(
                os.path.join(self.refresh_dir, "deltas", f"batch_{c}"))
        st0 = reader.last_query_stats()
        lat, cpu = [], []
        queries = self.corpus.zipf_queries(self.qrng, REFRESH_QUERIES, f"r{c}-")
        self.refresh_queries += queries
        for q in queries:
            t0, c0 = time.perf_counter(), time.process_time()
            reader.search_local([q], k=SERVE_K)
            lat.append(time.perf_counter() - t0)
            cpu.append(time.process_time() - c0)
        self.attempted += REFRESH_QUERIES
        st1 = reader.last_query_stats()
        cyc["query_lat"], cyc["query_cpu"] = lat, cpu
        cyc["hits"] = st1["cache_hits"] - st0["cache_hits"]
        cyc["misses"] = st1["cache_misses"] - st0["cache_misses"]
        cyc["wall_s"] = time.time() - t_start
        self.cycles.append(cyc)
        if c == self.rounds - 1:
            fs = reader.field_stats
            self.check("compact", fs["n_docs"] == self.n_docs,
                       f"n_docs {fs['n_docs']} != {self.n_docs}")
            self.check("compact", fs["total_len"] == self.total_len,
                       f"total_len {fs['total_len']} != {self.total_len}")

    # -- checks and results ----------------------------------------------
    def check_oracle(self) -> None:
        """Against OracleIndex over the base docs: the df of a term sample,
        and search_local == search == topk on the check sample (ids equal,
        scores within SCORE_TOL).  Also prints the term df of each query
        stream."""
        from knowledgeir_spark.oracle.index import OracleIndex

        self.oracle = OracleIndex(list(zip(self.base_ids.tolist(), self.base_texts)))
        terms = sorted(self.oracle.df)
        pick = rng_for(self.seed, 5).choice(len(terms), DF_SAMPLE, replace=False)
        sample = [terms[i] for i in sorted(pick)]
        got = self.reader.term_stats_for(sample)
        bad = [t for t in sample if got.get(t) != self.oracle.df[t]]
        self.check("text", not bad, f"df differs from the oracle for {bad[:5]}")
        self._stream_df("serve", self.serve_queries)
        self._stream_df("refresh", self.refresh_queries)

        by_q: dict[str, list] = {}
        for row in sorted(self.batch_rows, key=lambda x: (x["qid"], x["rank"])):
            by_q.setdefault(row["qid"], []).append((row["doc_id"], row["score"]))
        for qid, text in self.check_stream:
            local = [(d, s) for _q, d, s, _r in self.serve_results.get(qid, [])]
            dist = by_q.get(qid, [])[:SERVE_K]
            try:
                oracle = self.oracle.topk(text, k=SERVE_K)
            except Exception:  # noqa: BLE001 - an oracle crash is a failed check
                traceback.print_exc()
                self.check("oracle", False, f"oracle topk raised on {qid}")
                continue
            for name, got in (("search_local", local), ("search", dist)):
                ok = [d for d, _ in got] == [d for d, _ in oracle] and all(
                    abs(a - b) <= SCORE_TOL
                    for (_, a), (_, b) in zip(got, oracle)
                )
                self.check("query", ok, f"{name} != oracle for {qid} {text!r}")

    def _stream_df(self, name: str, queries) -> None:
        """Share of a stream's query terms absent from the base index, and
        the df of the others."""
        from knowledgeir_spark.oracle.tokenizer import tokenize_query

        df = np.array([self.oracle.df.get(t, 0) for _q, text in queries
                       for t in tokenize_query(text)])
        hit = df[df > 0]
        print(f"stream {name}: {len(df)} terms, {np.mean(df == 0):.3f} absent "
              f"from the base; df of the others: median {np.median(hit):.0f}, "
              f"mean {hit.mean():.1f}, p90 {np.percentile(hit, 90):.0f}")

    def finish(self) -> None:
        med = statistics.median
        cycles = self.cycles
        ms = np.asarray(self.lat) * 1000
        cpu_ms = np.asarray(self.cpu) * 1000
        walls = self.tracer.durations("search")
        docs = sum(c["docs"] for c in cycles)
        self.e2e = {
            "setup_s": self.setup_s,
            "build_docs_per_s": BASE_DOCS / self.build_s,
            "build_docs_per_cpu_s": BASE_DOCS / self.tracer.cpu("build")[-1],
            "index_bytes_per_text_byte": self.index_bytes / sum(
                len(t.encode("utf-8")) for t in self.base_texts),
            "serve_cpu_p50_ms": _quantile(cpu_ms, 0.5),
            "serve_cpu_p95_ms": _quantile(cpu_ms, 0.95),
            "serve_queries_per_cpu_s": len(cpu_ms) / (cpu_ms.sum() / 1000),
            "batch_queries_per_cpu_s": BATCH_SIZE / min(self.tracer.cpu("search")),
            "refresh_ttq_p50_s": med(c["ttq_s"] for c in cycles),
            "refresh_docs_per_cpu_s": docs / sum(c["ttq_cpu_s"] for c in cycles),
            "refresh_query_cpu_p50_ms": 1000 * _quantile(
                [x for c in cycles for x in c["query_cpu"]], 0.5),
            "driver_rss_mb": self.rss_mb,
            # wall-clock views of the same work, printed but not in the JSON
            "serve_p50_ms": _quantile(ms, 0.5),
            "serve_p95_ms": _quantile(ms, 0.95),
            "serve_p99_ms": _quantile(ms, 0.99),
            "serve_qps": len(ms) / (ms.sum() / 1000),
            "batch_qps": BATCH_SIZE / min(walls),
            "refresh_docs_per_s": docs / sum(c["wall_s"] for c in cycles),
            "refresh_query_p50_ms": 1000 * _quantile(
                [x for c in cycles for x in c["query_lat"]], 0.5),
        }
        if not self.trace:
            return
        put = self.put
        st = self.stages
        put("session.start_s", self.session_s)
        put("lineage.commits", sum(not r.skipped for r in st.values()))
        put("text.doc_terms_s", st["doc_terms"].wall_ms / 1000)
        put("text.postings_emitted", st["doc_terms"].rows)
        put("build.postings_s", st["postings"].wall_ms / 1000)
        put("build.term_stats_s", st["term_stats"].wall_ms / 1000)
        put("build.other_s", self.build_s
            - sum(r.wall_ms for r in st.values()) / 1000)
        put("build.blocks", st["postings"].rows)
        put("build.postings_bytes", st["postings"].bytes)
        put("build.doc_terms_bytes", st["doc_terms"].bytes)
        put("query.reader_open_s", self.open_s)
        put("query.prewarm_s", self.prewarm_s)
        q = self.qstats
        st1 = self.reader.last_query_stats()
        hits = st1["cache_hits"] - self.cache0["cache_hits"]
        miss = st1["cache_misses"] - self.cache0["cache_misses"]
        put("query.blocks_decoded_ratio",
            q["blocks_decoded"] / max(q["blocks_total"], 1))
        put("query.essential_term_ratio",
            q["n_essential"] / max(q["n_scored_terms"], 1))
        put("query.cache_hit_ratio", hits / max(hits + miss, 1))
        put("query.cache_postings", st1["cache_postings"])
        put("query.slice_postings_mean", float(np.mean(self.slice_postings)))
        put("query.batch_s", min(walls))
        put("ingest.delta_s", med(c["delta_s"] for c in cycles))
        put("compact.fold_s", med(c["fold_s"] for c in cycles))
        put("compact.term_stats_s", med(c["term_stats_s"] for c in cycles))
        # a share, not seconds: on "query" no fold re-blocks, so a time
        # would read exactly 0 on every run
        put("compact.defrag_share", sum(c["defrag_s"] for c in cycles)
            / sum(c["fold_s"] for c in cycles))
        put("compact.defragged_buckets", sum(c["defragged"] for c in cycles))
        put("compact.write_amp", sum(c["new_bytes"] for c in cycles)
            / max(sum(c["delta_bytes"] for c in cycles), 1))
        live = os.path.join(self.refresh_dir, "postings")
        put("compact.bucket_files_max", max(
            sum(fn.endswith(".parquet") for fn in os.listdir(os.path.join(live, b)))
            for b in os.listdir(live) if b.startswith("bucket=")
        ))
        put("query.reopen_first_ms", med(c["reopen_ms"] for c in cycles))
        hits = sum(c["hits"] for c in cycles)
        put("query.cold_cache_hit_ratio",
            hits / max(hits + sum(c["misses"] for c in cycles), 1))

    def stop(self) -> None:
        """Stop Spark, wait for its JVM to exit, delete the scratch dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            # The JVM exits when its stdin closes.  py4j's gateway.shutdown()
            # is not used: once a streaming query has started the callback
            # server, it can block forever.
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        try:
            if self.trace and self.spark is not None:
                self.layer.update(spark_span_metrics(self.event_log,
                                                     self.tracer.spans))
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:
                pass  # another run's scratch is still there


def _report(bench: Bench, ok: bool) -> dict:
    """The metrics BENCHMARK.json lists for this mode, with its units; a
    listed metric the run did not produce fails the run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if bench.trace else "end_to_end"]
    if bench.trace:
        for layer, n in bench.errors.items():
            bench.put(f"{layer}.errors", n)
    values = bench.layer if bench.trace else bench.e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec if m["name"] in values}
    for name, m in metrics.items():
        print(f"{name:<34} {m['value']:>14.6g} {m['unit']}")
    if not bench.trace:
        print("-- wall clock, not in the JSON: it moves with the machine's other load")
        for name, unit in WALL_UNITS.items():
            if name in values:
                print(f"{name:<34} {values[name]:>14.6g} {unit}")
        rate = bench.failed / max(bench.attempted, 1)
        print(f"{'error_rate':<34} {rate:>14.6g} ratio")
    if ok and len(metrics) < len(spec):
        print("metrics not produced:", [m["name"] for m in spec
                                        if m["name"] not in values],
              file=sys.stderr)
        ok = False
    return {"correct": ok and bench.failed == 0,
            "attempted": max(bench.attempted, 1),
            "failed": bench.failed if ok else max(bench.failed, 1),
            "metrics": metrics}


def _overhead(bench: Bench) -> None:
    """Untraced runs record their end-to-end numbers; a traced run of the
    same workload and seed prints its own numbers' difference from them."""
    rec_dir = os.path.join(ROOT, ".perfbench_runs")
    rec = os.path.join(rec_dir, f"{bench.args.workload}-{bench.seed}.json")
    if not bench.trace:
        os.makedirs(rec_dir, exist_ok=True)
        with open(rec, "w") as f:
            json.dump(bench.e2e, f)
        return
    if not os.path.exists(rec):
        print("tracing overhead: no untraced run of this workload and seed "
              "recorded; run it with --trace 0 first")
        return
    with open(rec) as f:
        base = json.load(f)
    for k, v in bench.e2e.items():
        if base.get(k):
            print(f"tracing overhead {k:<28} {100 * (v / base[k] - 1):+8.2f}%")


def _abort(bench: Bench) -> None:
    """Watchdog: print every thread's stack, kill the JVM, exit nonzero."""
    print(f"run still going after {WATCHDOG_S} s; aborting", file=sys.stderr)
    faulthandler.dump_traceback(all_threads=True)
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    shutil.rmtree(bench.work, ignore_errors=True)
    os._exit(3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=NOMINAL_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "knowledgeir_spark")):
        print(f"knowledgeir_spark not found in {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2

    bench = Bench(args, WORKLOADS[args.workload])
    watchdog = threading.Timer(WATCHDOG_S, _abort, (bench,))
    watchdog.daemon = True
    watchdog.start()
    ok = True
    try:
        for phase in (bench.start, bench.setup, bench.check_build,
                      bench.measure, bench.check_oracle, bench.finish):
            t0 = time.time()
            phase()
            print(f"phase {phase.__name__}: {time.time() - t0:.2f} s",
                  file=sys.stderr)
    except Exception:  # noqa: BLE001 - report the failure as a failed run
        traceback.print_exc()
        ok = False
    finally:
        bench.stop()
        watchdog.cancel()
    for name in dict.fromkeys(n for n, *_ in bench.tracer.spans):
        walls = " ".join(f"{d:.2f}" for d in bench.tracer.durations(name))
        cpus = " ".join(f"{c:.2f}" for c in bench.tracer.cpu(name))
        print(f"span {name}: {walls} s, cpu {cpus} s", file=sys.stderr)
    result = _report(bench, ok)
    if ok:
        _overhead(bench)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
