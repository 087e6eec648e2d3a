#!/usr/bin/env python
"""Capture .explain("formatted") for every timed bench leg (round-6 guide
section 1: plan shape before/after).  Usage:
    python scripts/r06_plans.py before|after
Writes plans/r06/<query>_<tag>.txt.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(REPO, "plans", "r06")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
IDX = os.path.join(REPO, ".bench_cache", "index_c32_100000")


def capture(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    from knowledgeir_spark import parity
    from knowledgeir_spark.session import get_spark

    spark = get_spark(cpus=8, app_name="kir-r06-plans")
    plans: dict[str, str] = {}

    for name in ("bm25_topk", "pricing_summary", "top_customers"):
        plans[name] = capture(parity.queries()[name](spark, SF_DIR))

    # the distributed query path (query_serial_spark_10 / query_batch_50)
    if os.path.isdir(IDX):
        from knowledgeir_spark.fixtures.webpages import gen_queries
        from knowledgeir_spark.index.query import IndexReader

        reader = IndexReader(spark, IDX)
        queries = [
            (r.qid, r.query) for r in gen_queries(50).itertuples()
        ]
        # search() runs its one scoring job (a mapInArrow over salt-range
        # tasks) inside the call and returns a local relation of the
        # merged rows: the captured plan is that relation's scan
        plans["query_search_single"] = capture(reader.search(queries[:1], k=20))
        plans["query_search_batch50"] = capture(reader.search(queries, k=20))

    for name, text in plans.items():
        path = os.path.join(OUT, f"{name}_{TAG}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_exch = text.count("Exchange")
        joins = [
            j for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
            if j in text
        ]
        py = [
            p for p in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                        "FlatMapGroupsInPandas")
            if p in text
        ]
        print(f"{name}: Exchange x{n_exch}, joins={joins}, python={py} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
