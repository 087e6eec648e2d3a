"""Partial nextword (bigram) index: exact-adjacency postings for head-head
term pairs.

Motivation (round-5 verdict item 1, measured in BENCH phrase_scale): the
two-phase phrase plan — conjunctive candidates from unigram postings, then
adjacency verification — has candidate sets O(min(df_a, df_b)).  For a
phrase whose terms are BOTH Zipf heads, "the matching docs" is a large
fraction of the corpus and the verify step dominates (p95 36.5 s/phrase at
1M docs on the docstore path).  The standard fix is a partial nextword
index (Williams, Zobel & Bahle, "Fast Phrase Querying with Combined
Indexes", TOIS 2004): materialize bigram postings ONLY for pairs of
frequent terms, and answer those pairs' adjacency directly.

Coverage rule: a pair (w1, w2) is materialized iff BOTH terms have
df >= head_min_df.  Any non-covered pair has min(df) < head_min_df, so the
existing two-phase plan's candidate set — bounded by the rarer term's df —
stays below the threshold; the tail this store removes is exactly the class
the threshold names.  head_min_df defaults to 1% of the corpus
(scale-relative, not an absolute), so the bound on the old path's verify
work scales with the corpus like everything else in the engine.

Layout: ``index_dir/nextword/bucket=<b>/*.parquet`` with columns
``(bigram string, doc_id long)`` — one row per (adjacent pair, doc), bucket
= the postings' term-hash bucket of the bigram string, so a phrase query
reads one bucket filtered to one bigram (pyarrow predicate pushdown).
``_nextword.json`` records the head set so readers can decide coverage
without touching term stats.

Query integration (IndexReader.search_phrase):
- a 2-token phrase whose pair is covered is answered from the store alone:
  the bigram postings ARE the exact-phrase doc set, no verification pass;
  survivors are scored by the same conjunctive kernel restricted to them
  (scores are per-doc, so restriction is value-identical — tested).
- longer phrases intersect every covered adjacent pair's doc set into a
  candidate restriction for phase 1 + verify (pairwise adjacency does not
  imply full-phrase adjacency, so verification still runs, over a far
  smaller set).

Build: one map-only pair explode + one distinct shuffle — the same scale
shape as the positions store build.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize_expr, tokenize_simple_expr
from .build import read_live, term_bucket_expr, term_bucket_py


def write_nextword_store(
    docs: DataFrame,
    index_dir: str,
    head_min_df: int | None = None,
    tokenizer: str | None = None,
    n_buckets: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Writes the bucket-partitioned nextword store; returns its path.

    The head set comes from the sibling index's term_stats (terms with
    df >= head_min_df); tokenizer / n_buckets default to its field_stats so
    adjacency means "adjacent in the indexed token stream"."""
    fs_path = os.path.join(index_dir, "field_stats.json")
    n_docs = 0
    if os.path.exists(fs_path):
        with open(fs_path) as f:
            fs = json.load(f)
        tokenizer = tokenizer or fs.get("tokenizer", "spec")
        n_buckets = n_buckets or int(fs.get("n_buckets", 8))
        n_docs = int(fs.get("n_docs", 0))
    tokenizer = tokenizer or "spec"
    n_buckets = n_buckets or 8
    if head_min_df is None:
        head_min_df = max(16, n_docs // 100)

    spark = docs.sparkSession
    ts = read_live(spark, index_dir, "term_stats")
    heads = sorted(
        r["term"] for r in ts.filter(F.col("df") >= head_min_df)
        .select("term").collect()
    )
    path = os.path.join(index_dir, "nextword")
    toks = (
        tokenize_simple_expr(F.col(text_col))
        if tokenizer == "simple"
        else tokenize_expr(F.col(text_col))
    )
    if heads:
        pairs = (
            docs.select(
                F.col(id_col).cast("long").alias("doc_id"), toks.alias("t")
            )
            .filter(F.size("t") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(t) - 2), "
                        "i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                    )
                ).alias("p"),
            )
            .filter(F.col("p.w1").isin(heads) & F.col("p.w2").isin(heads))
            .select(
                "doc_id",
                F.concat_ws(" ", "p.w1", "p.w2").alias("bigram"),
            )
            .distinct()
            .withColumn(
                "bucket", term_bucket_expr(F.col("bigram"), n_buckets)
            )
        )
        pairs.write.mode("overwrite").partitionBy("bucket").parquet(path)
    else:
        os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_nextword.json"), "w") as f:
        json.dump(
            {
                "n_buckets": n_buckets,
                "tokenizer": tokenizer,
                "head_min_df": int(head_min_df),
                "head_terms": heads,
            },
            f,
        )
    return path


class NextwordStore:
    """Pruned reader over the nextword partition layout."""

    def __init__(self, index_dir: str):
        self.path = os.path.join(index_dir, "nextword")
        with open(os.path.join(self.path, "_nextword.json")) as f:
            meta = json.load(f)
        self.n_buckets = int(meta["n_buckets"])
        self.tokenizer = meta.get("tokenizer", "spec")
        self.head_min_df = int(meta.get("head_min_df", 0))
        self.heads = frozenset(meta.get("head_terms", []))
        self._ds = None

    def covers(self, w1: str, w2: str) -> bool:
        return w1 in self.heads and w2 in self.heads

    def _dataset(self):
        import pyarrow.dataset as ds

        if self._ds is None:
            self._ds = ds.dataset(self.path, partitioning="hive")
        return self._ds

    def doc_ids(self, w1: str, w2: str) -> np.ndarray:
        """Sorted doc ids in which (w1, w2) occur adjacently — one
        bucket-and-bigram-pruned columnar read."""
        import pyarrow.dataset as ds

        bigram = f"{w1} {w2}"
        filt = (
            ds.field("bucket") == term_bucket_py(bigram, self.n_buckets)
        ) & (ds.field("bigram") == bigram)
        tbl = self._dataset().to_table(filter=filt, columns=["doc_id"])
        ids = tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        ids.sort()
        return ids
