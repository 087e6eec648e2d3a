"""Vectorized numpy scorers for the index query path.

Same formulas (and quirks) as functions/scoring.py (JVM exprs) and
oracle/retrieval.py (per-doc port) — here vectorized over a candidate-doc
axis inside the grouped query UDF.  Terms are accumulated SEQUENTIALLY in
query-term first-occurrence order, matching ordered_sum / the oracle, so all
three paths agree on exact ties.

Reference: /root/reference/knowledge4ir/utils/retrieval_model.py:205-291.
"""

from __future__ import annotations

import math

import numpy as np

BM25_K1 = 1.2
BM25_B = 0.75
LM_DIR_MU = 2500
LM_MIN_TF = 0.1
LM_JM_LAMBDA = 0.4
MIN_LM_SCORE = 1e-10


def bm25_term_contrib(
    tf: np.ndarray, df: float, dl: np.ndarray, n: float, avgdl: float
) -> np.ndarray:
    tf_part = tf * (BM25_K1 + 1) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
    ratio = max((n - df + 0.5) / (df + 0.5), 1.0)
    idf = max(math.log(ratio), 0.0)
    return ratio * (tf_part * idf)


def bm25_term_bound(max_tf: float, min_dl: float, df: float, n: float, avgdl: float) -> float:
    """Upper bound of bm25_term_contrib over a posting block (monotone
    increasing in tf, decreasing in dl)."""
    tf_part = max_tf * (BM25_K1 + 1) / (
        max_tf + BM25_K1 * (1 - BM25_B + BM25_B * min_dl / avgdl)
    )
    ratio = max((n - df + 0.5) / (df + 0.5), 1.0)
    idf = max(math.log(ratio), 0.0)
    return ratio * (tf_part * idf)


def bm25_finalize(raw: np.ndarray, dl: np.ndarray) -> np.ndarray:
    out = np.log(np.maximum(raw, 1.0))
    return np.where(dl == 0, 0.0, out)


def tf_idf_term_contrib(tf: np.ndarray, df: float, dl: np.ndarray, n: float) -> np.ndarray:
    return math.log(1 + n / max(df, 1.0)) * (tf / dl)


def lm_term_contrib(tf: np.ndarray, q_tf: float, dl: np.ndarray) -> np.ndarray:
    return np.log(np.maximum(np.maximum(tf, LM_MIN_TF) / dl, MIN_LM_SCORE)) * q_tf


def lm_dir_term_contrib(
    tf: np.ndarray, df: float, dl: np.ndarray, n: float, v_q: float
) -> np.ndarray:
    v = (tf + LM_DIR_MU * (df / n)) / (dl + LM_DIR_MU)
    return np.log(np.maximum(v, MIN_LM_SCORE)) * v_q


def lm_jm_term_contrib(
    tf: np.ndarray, df: float, dl: np.ndarray, n: float, q_tf: float
) -> np.ndarray:
    v = tf / dl * (1 - LM_JM_LAMBDA) + LM_JM_LAMBDA * df / n
    return np.log(np.maximum(v, MIN_LM_SCORE)) * q_tf


def lm_twoway_term_contrib(
    tf: np.ndarray, df: float, dl: np.ndarray, n: float, q_tf: float
) -> np.ndarray:
    v = (tf + LM_DIR_MU * (df / n)) / (dl + LM_DIR_MU)
    v = v * (1 - LM_JM_LAMBDA) + LM_JM_LAMBDA * df / n
    return np.log(np.maximum(v, MIN_LM_SCORE)) * q_tf


MODELS = ("bm25", "tf_idf", "coordinate", "lm", "lm_dir", "lm_jm",
          "lm_twoway", "bool_or", "bool_and", "cosine")


def score_terms(
    model: str,
    terms: list[dict],
    tf_by_term: dict[str, np.ndarray],
    dl: np.ndarray,
    n: float,
    avgdl: float,
) -> np.ndarray:
    """Accumulate model score over candidate docs; `terms` is the query's
    term dicts [{term, term_idx, q_tf, df}] — iterated in term_idx order."""
    n_cand = len(dl)
    score = np.zeros(n_cand, dtype=np.float64)
    ordered = sorted(terms, key=lambda t: t["term_idx"])
    sum_q_tf = float(sum(t["q_tf"] for t in ordered))
    zeros = np.zeros(n_cand, dtype=np.float64)
    for t in ordered:
        tf = tf_by_term.get(t["term"], zeros)
        df = float(t["df"])
        q_tf = float(t["q_tf"])
        if model == "bm25":
            score += bm25_term_contrib(tf, df, dl, n, avgdl)
        elif model == "tf_idf":
            score += tf_idf_term_contrib(tf, df, dl, n)
        elif model == "coordinate":
            score += (tf > 0).astype(np.float64)
        elif model == "lm":
            score += lm_term_contrib(tf, q_tf, dl)
        elif model == "lm_dir":
            score += lm_dir_term_contrib(tf, df, dl, n, q_tf / sum_q_tf)
        elif model == "lm_jm":
            score += lm_jm_term_contrib(tf, df, dl, n, q_tf)
        elif model == "lm_twoway":
            score += lm_twoway_term_contrib(tf, df, dl, n, q_tf)
        elif model == "bool_or":
            score = np.maximum(score, (tf > 0).astype(np.float64))
        elif model == "bool_and":
            score += (tf > 0).astype(np.float64)
        elif model == "cosine":
            pass  # handled below (needs three accumulators)
        else:
            raise ValueError(f"unknown model {model}")
    if model == "cosine":
        # duet_feature/base.py:215-226 — cosine DISTANCE quirk
        dot = np.zeros(n_cand)
        nq = 0.0
        nd = np.zeros(n_cand)
        sum_tf = np.zeros(n_cand)
        for t in ordered:
            tf = tf_by_term.get(t["term"], zeros)
            vq = float(t["q_tf"]) / sum_q_tf
            vd = tf / dl
            dot += vq * vd
            nq += vq * vq
            nd += vd * vd
            sum_tf += tf
        denom = math.sqrt(nq) * np.sqrt(nd)
        out = np.where(
            (sum_tf == 0) | (denom == 0), 0.0, 1.0 - dot / np.where(denom == 0, 1, denom)
        )
        return out
    if model == "bm25":
        return bm25_finalize(score, dl)
    if model in ("lm_dir", "lm_jm", "lm_twoway"):
        return score + 20.0
    if model == "bool_and":
        return (score == len(ordered)).astype(np.float64)
    return score
