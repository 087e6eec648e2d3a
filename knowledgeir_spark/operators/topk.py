"""Ranking / top-k operators (SURVEY.md §2.6 W1-W3).

Reference: dump_trec_out_from_ranking_score (knowledge4ir/utils/base.py:118-145)
sorts by (int(qid) asc, score desc) and assigns rank 1..n per qid.  The
reference relies on Python sort stability for ties; the engine fixes a
DETERMINISTIC tie-break (score desc, doc_id asc) so ranks are stable across
runs and partitionings — required for rank-identity (BASELINE.md).

Physical note: Window.partitionBy(qid) + row_number + filter(rank<=k) lets
Spark run a per-partition top-k (WindowGroupLimit pushdown in Spark 3.5+/4.x
inserts a partial limit before the exchange), so the shuffle carries at most
k rows per (qid, input-partition) — the right shape at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


RANK_QUANTUM = 1e9  # must equal oracle.retrieval.RANK_QUANTUM


def topk_per_query(
    scored: DataFrame,
    k: int = 20,
    qid_col: str = "qid",
    doc_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Ranking key = (floor(score*1e9) desc, doc_id asc).

    The quantized key is shared with the oracle (oracle.retrieval.rank_key):
    floor is monotonic so it can never reorder genuinely different scores; it
    only merges scores closer than 1e-9 (far above float noise ~1e-13, far
    below the 1e-6 reporting tolerance) into a tie resolved by doc_id — this
    is what makes rank-identity robust across platforms/partitionings.
    """
    w = Window.partitionBy(qid_col).orderBy(
        F.floor(F.col(score_col) * RANK_QUANTUM).desc(), F.col(doc_col).asc()
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return ranked.orderBy(F.col(qid_col).cast("long"), "rank")


def to_trec(ranked: DataFrame, run_name: str = "knowledgeir_spark") -> DataFrame:
    """TREC 6-column shape (qid, 'Q0', docno, rank, score, run) —
    writer shape of utils/base.py:118-145."""
    return ranked.select(
        F.col("qid"),
        F.lit("Q0").alias("q0"),
        F.col("doc_id").cast("string").alias("docno"),
        F.col("rank"),
        F.col("score"),
        F.lit(run_name).alias("run"),
    )


def collapse_per_key(
    scored: DataFrame,
    key_col: str,
    m: int = 2,
    k: int = 10,
    qid_col: str = "qid",
    doc_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Result diversification ("site collapse"): keep at most ``m`` results
    per (query, ``key_col``) — host, domain, cluster id — then re-rank the
    survivors to the top ``k``.

    Both windows use the engine ranking key (floor(score*1e9) desc, doc_id
    asc), so which m results survive per key and the final order are both
    deterministic and SQL-replayable.  Same WindowGroupLimit shape as
    topk_per_query: the (qid, key) partial limit runs before the exchange,
    so the shuffle carries at most m rows per key per input partition.
    """
    qkey = F.floor(F.col(score_col) * RANK_QUANTUM)
    w_key = Window.partitionBy(qid_col, key_col).orderBy(
        qkey.desc(), F.col(doc_col).asc()
    )
    w_q = Window.partitionBy(qid_col).orderBy(qkey.desc(), F.col(doc_col).asc())
    return (
        scored.withColumn("_kr", F.row_number().over(w_key))
        .filter(F.col("_kr") <= m)
        .drop("_kr")
        .withColumn("rank", F.row_number().over(w_q))
        .filter(F.col("rank") <= k)
        # numeric-first qid order (matches the TREC dumps), but keep the raw
        # qid as a tie-break so non-numeric qids (which cast to NULL) still
        # get a deterministic output order instead of rank-only ties
        .orderBy(F.col(qid_col).cast("long"), F.col(qid_col), "rank")
    )
