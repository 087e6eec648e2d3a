"""Index query path: pruned BM25 top-k from the posting shards.

Plan shape of search(), one Spark job per batch, no exchange:

  spark.range(tasks).mapInArrow(task)       [task i: its own salt ranges]
    task: pyarrow read of the query terms' block rows from only their
          buckets' files [term and salt predicates pushed to the reader]
          → split by (salt, term) → kernel per (qid, salt) group
          → per-query top-k over the task's salt ranges    [<= k rows/query]
  → driver: per-query top-k merge of the tasks' rows       [global]

Each (qid, salt) group holds the query's posting blocks for ONE contiguous
doc_id range (the build's range salt), so groups are disjoint in docs: local
top-k lists merge into the exact global top-k.  Tasks therefore process
doc ranges in parallel per query — the WAND analog of doc-partitioned
sharding in Lucene/Indri.

One pruned bm25 kernel, _score_group_dense, serves both search() (per
(qid, salt) group) and the coordinator's search_local (one group over the
whole slice, with a decoded-postings cache): flat score/seen arrays over
the group's own doc-id span (doc_id - base), MaxScore term selection from
block-max metadata, and block-range fill-in for the non-essential terms.
Every skip compares one quantum below the engine-wide ranking key
floor(score*1e9), so the result is exact, doc_id tie-breaks included;
tests assert it against the unpruned _score_group, which also serves the
other models and prune=False.

Every kernel takes a query id and {term: Arrow table of its block rows}
(search(): the group split by term; search_local: resident-directory
slices), decodes payloads straight from the Arrow buffers
(codec.decode_table) and returns its top-k (doc_ids int64, scores float64).

Scores are rank-identical to the full-scan DataFrame path and the oracle
(same ordered summation + quantized ranking key).
"""

from __future__ import annotations

import functools
import math
import operator
import os
import threading
import time
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

from .build import check_codec, live_files, read_field_stats, term_bucket_py
from .codec import decode_table
from . import scoring_np as S

_RANK_Q = 1e9

# the posting-block columns the serving kernels read (search_local's
# scorers; prewarm and facet_counts_local read subsets)
_BLOCK_COLUMNS = [
    "term", "n_docs", "first_doc_id", "max_doc_id", "max_tf", "min_doc_len",
    "doc_id_deltas", "tfs", "doc_lens",
]

# what each search() task returns: at most k rows per query
_HITS_SCHEMA = pa.schema([
    ("qid", pa.string()), ("doc_id", pa.int64()), ("score", pa.float64()),
])
_HITS_SCHEMA_DDL = "qid string, doc_id long, score double"


def _col(g: pa.Table, name: str, dtype=np.int64) -> np.ndarray:
    """One column of a term's block rows as a numpy array."""
    return g.column(name).to_numpy().astype(dtype, copy=False)


def _no_hits() -> tuple[np.ndarray, np.ndarray]:
    return np.empty(0, np.int64), np.empty(0, np.float64)


def _read_blocks(
    files: list[str],
    terms: list[str] | None,
    columns: list[str] = _BLOCK_COLUMNS,
    salts: tuple[int | None, int | None] = (None, None),
) -> pa.Table:
    """The one block source of both query paths: the block rows of `terms`
    (None: every term) in the parquet `files`, in the files' order, read
    with pyarrow with the term and salt-range [lo, hi) (None: an open end)
    predicates pushed down.  The reader's bucket loads and scan fallback
    call it on the driver; search()'s tasks call it on the executors."""
    lo, hi = salts
    preds = [] if terms is None else [ds.field("term").isin(terms)]
    if lo is not None:
        preds.append(ds.field("salt") >= lo)
    if hi is not None:
        preds.append(ds.field("salt") < hi)
    return ds.dataset(files, format="parquet").to_table(
        columns=columns,
        filter=functools.reduce(operator.and_, preds) if preds else None,
    )


def _term_runs(
    tbl: pa.Table, key: str = "term"
) -> tuple[pa.Table, pa.Array, np.ndarray]:
    """tbl stably sorted by column `key` (rows with one value keep their
    order), its unique values in order as an Arrow array, and int32 row
    offsets with a final end."""
    tbl = tbl.take(pc.sort_indices(tbl, [(key, "ascending")])).combine_chunks()
    col = tbl[key].chunk(0) if tbl.num_rows else pa.array([], pa.string())
    starts = np.flatnonzero(np.concatenate([
        [tbl.num_rows > 0],
        pc.not_equal(col[1:], col[:-1]).to_numpy(zero_copy_only=False),
    ]))
    return tbl, col.take(starts), np.append(starts, tbl.num_rows).astype(np.int32)


def _split_by(tbl: pa.Table, key: str = "term") -> dict:
    """Block rows -> {value of `key`: its rows, in their original order}."""
    tbl, values, offs = _term_runs(tbl, key)
    return {
        v: tbl.slice(a, b - a)
        for v, a, b in zip(values.to_pylist(), offs[:-1].tolist(), offs[1:].tolist())
    }


def _find(terms: pa.StringArray, keys: list[str]) -> list[int]:
    """Positions of `keys` in the sorted unique Arrow string array `terms`
    (-1 where absent): a binary search over its offsets and data buffers,
    so no Python string is made per entry.  UTF-8 byte order is code-point
    order, the order Python's sorted() and Arrow's sort use."""
    _, obuf, dbuf = terms.buffers()
    offs = memoryview(obuf).cast("i")[terms.offset:]
    data = memoryview(dbuf)
    out = []
    for key in keys:
        k = key.encode()
        lo, hi = 0, len(terms)
        while lo < hi:
            mid = (lo + hi) // 2
            if data[offs[mid]:offs[mid + 1]].tobytes() < k:
                lo = mid + 1
            else:
                hi = mid
        hit = lo < len(terms) and data[offs[lo]:offs[lo + 1]].tobytes() == k
        out.append(lo if hit else -1)
    return out


class _TermDir(NamedTuple):
    """One bucket's resident term directory: its sorted unique terms, int32
    row offsets with a final end, each term's df (the sum of n_docs over
    its block rows), and the block rows sorted by term, or None for a
    bucket loaded by a df lookup only (its rows load on the first block
    lookup) or over IndexReader._RESIDENT_MAX_BYTES (scanned per call)."""

    terms: pa.StringArray
    rows: np.ndarray
    df: np.ndarray
    tbl: pa.Table | None
    nbytes: int


# the directory of a bucket with no file: no indexed term hashes to it
_NO_TERMS = _TermDir(pa.array([], pa.string()), np.zeros(1, np.int32),
                     np.zeros(0, np.int64), pa.table({}), 0)


def _doc_span(blocks: dict[str, pa.Table]) -> tuple[int, int]:
    """(smallest first_doc_id, doc-id span) over every block row.  Block
    first/max doc ids are the block's min/max id under both block orders
    (impact blocks are re-sorted by doc id at build)."""
    base = min(pc.min(g["first_doc_id"]).as_py() for g in blocks.values())
    top = max(pc.max(g["max_doc_id"]).as_py() for g in blocks.values())
    return base, top - base + 1


def _score_group(
    qid: str,
    blocks: dict[str, pa.Table],
    q_terms: dict[str, list[dict]],
    n: float,
    avgdl: float,
    model: str,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """One (qid, salt) group -> local top-k (doc_ids, scores), unpruned:
    every block is decoded and every candidate scored.  The kernel for
    non-bm25 models and prune=False, and the reference the pruned kernel
    is tested against."""
    terms = q_terms[qid]
    # decode all blocks per term in three vectorized passes (segmented
    # cumsum over concatenated varint streams — see codec.decode_table)
    id_by: dict[str, np.ndarray] = {}
    tf_raw: dict[str, np.ndarray] = {}
    dl_raw: dict[str, np.ndarray] = {}
    for term, g in blocks.items():
        ids, tfs, dls = decode_table(g)
        id_by[term] = ids.astype(np.int64)
        tf_raw[term] = tfs.astype(np.float64)
        dl_raw[term] = dls.astype(np.float64)
    if not id_by:
        return _no_hits()
    all_ids = np.unique(np.concatenate(list(id_by.values())))
    n_cand = len(all_ids)
    dl = np.zeros(n_cand, dtype=np.float64)
    tf_by_term: dict[str, np.ndarray] = {}
    for term, ids in id_by.items():
        pos = np.searchsorted(all_ids, ids)
        v = np.zeros(n_cand, dtype=np.float64)
        v[pos] = tf_raw[term]
        tf_by_term[term] = v
        dl[pos] = dl_raw[term]
    scores = S.score_terms(model, terms, tf_by_term, dl, n, avgdl)

    # local top-k with the engine ranking key (quantized desc, doc_id asc)
    qkeys = np.floor(scores * _RANK_Q).astype(np.int64)
    order = np.lexsort((all_ids, -qkeys))[: k]
    return all_ids[order], scores[order]


def _merge_topk(
    cands: list[tuple[int, float]], k: int
) -> list[tuple[int, float]]:
    """Top-k of (doc_id, score) pairs under the engine ranking key
    (floor(score*1e9) desc, doc_id asc).  Merging the local top-k lists of
    doc-disjoint groups (salt ranges, shards) this way gives the exact
    global top-k."""
    return sorted(cands, key=lambda ds: (-math.floor(ds[1] * _RANK_Q), ds[0]))[:k]


class DecodedTermCache:
    """Hot-term decoded-postings cache for the serving coordinator (the
    standard production-engine lever: Zipf query streams repeat head terms,
    whose decode dominates point-query latency).  Holds FULLY-decoded
    (ids, tfs, dls) per term, bounded by total postings; LRU eviction
    (get() refreshes recency).
    Correctness-neutral: cached arrays are exactly what decode produces,
    and the cache lives inside one IndexReader (one index snapshot).
    get/put hold a lock, so threads sharing a reader keep the counters
    and the postings total exact."""

    def __init__(self, max_postings: int = 10_000_000):
        from collections import OrderedDict

        self.max_postings = max_postings
        self._d: "OrderedDict[str, tuple]" = OrderedDict()
        self._total = 0
        self.hits = 0
        self.misses = 0
        self._lock = threading.Lock()

    def get(self, term: str):
        with self._lock:
            hit = self._d.get(term)
            if hit is None:
                self.misses += 1
            else:
                self.hits += 1
                self._d.move_to_end(term)
            return hit

    def put(self, term: str, arrays: tuple) -> None:
        size = len(arrays[0])
        if size > self.max_postings:
            return
        with self._lock:
            if term in self._d:
                return
            while self._total + size > self.max_postings and self._d:
                _, old = self._d.popitem(last=False)
                self._total -= len(old[0])
            self._d[term] = arrays
            self._total += size


def _score_group_dense(
    qid: str,
    blocks: dict[str, pa.Table],
    q_terms: dict[str, list[dict]],
    n: float,
    avgdl: float,
    k: int,
    cache: DecodedTermCache | None = None,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """The pruned bm25 kernel, on both query paths: one (qid[, salt]) group
    -> (local top-k doc_ids, their scores, skip statistics).

    Accumulators are flat arrays over the group's own doc-id span,
    indexed by doc_id - base (base = the group's smallest first_doc_id),
    so memory is ~9 bytes x span: at most salt_range for a search() group.

    Three levers over the union-based _score_group:
    - accumulate score[doc_id] += contrib per term (one fancy-index add over
      the term's postings) — no np.unique / searchsorted / per-term scatter
      over the candidate union, which dominated head-term latency;
    - terms whose idf clamps to 0 (df > ~N/2 under the reference's
      max(log(max((N-df+.5)/(df+.5),1)),0) quirk — i.e. exactly the Zipf
      head) contribute 0 to EVERY doc, so only their doc-id stream is
      decoded (candidacy) and tf/doc_len streams are skipped entirely;
    - MaxScore block skipping for positive-idf head terms: selective terms
      (large per-term bound, from block metadata only) are decoded first;
      once the remaining terms' summed bounds quantize strictly below the
      running k-th best partial, those terms decode only the blocks whose
      doc-id range contains a candidate.  Exact, including doc_id
      tie-breaks: the comparison runs one quantum below the ranking key,
      and a final re-accumulation in term_idx order (the same per-doc
      left-to-right fold as ordered_sum/the oracle) keeps candidate scores
      bit-identical to the unpruned paths.

    cache: the reader's decoded-postings cache.  Its arrays hold whole
    posting lists, so pass it only when the group holds every block of
    its terms (search_local's one group over the slice).
    """
    terms = sorted(q_terms[qid], key=lambda t: t["term_idx"])
    base, span = _doc_span(blocks)

    def decode(g: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        ids, tfs, dls = decode_table(g)
        return ids.astype(np.int64), tfs, dls

    # plan: per-term global contribution bound from block metadata (no
    # decode); zero-idf terms keep the lazy candidacy-only treatment below
    scored_terms = []
    deferred = []  # zero-idf term groups: candidacy-only, decoded lazily
    for t in terms:
        g = blocks.get(t["term"])
        if g is None:
            continue
        df = float(t["df"])
        ratio = max((n - df + 0.5) / (df + 0.5), 1.0)
        idf = max(math.log(ratio), 0.0)
        if idf == 0.0:
            deferred.append(g)
            continue
        bound = float(
            np.max(
                S.bm25_term_bound(
                    _col(g, "max_tf", np.float64),
                    _col(g, "min_doc_len", np.float64),
                    df, n, avgdl,
                )
            )
        )
        scored_terms.append({"t": t, "g": g, "df": df, "bound": bound})

    def qf(x: float) -> int:  # the engine-wide quantized ranking key
        return math.floor(math.log(max(x, 1.0)) * _RANK_Q)

    by_bound = sorted(scored_terms, key=lambda d: -d["bound"])
    score_sel = np.zeros(span, dtype=np.float64)
    seen = np.zeros(span, dtype=bool)
    decoded: dict[str, tuple] = {}

    if len(by_bound) == 1:
        # SINGLE scored term (the 2M-doc tail driver: one mid-idf head term
        # whose full posting list was decoded for a top-20): decode its
        # blocks in descending block-bound order and STOP once the next
        # block's bound quantizes strictly below the running k-th best
        # exact score — a doc in an undecoded block scores <= bound, so
        # qf(score) <= qf(bound) < qf(kth) excludes it even on a doc_id
        # tie.  Exact: single-term scores are complete per decoded doc.
        d = by_bound[0]
        g = d["g"]
        hit = cache.get(d["t"]["term"]) if cache is not None else None
        cache_hit = hit is not None
        if hit is not None:
            ids, tfs, dls = hit
            rel = ids - base
            seen[rel] = True
            score_sel[rel] += S.bm25_term_contrib(
                tfs.astype(np.float64), d["df"], dls.astype(np.float64),
                n, avgdl,
            )
            pos = 0  # nothing decoded: the cached arrays supplied everything
        else:
            bounds = S.bm25_term_bound(
                _col(g, "max_tf", np.float64),
                _col(g, "min_doc_len", np.float64),
                d["df"], n, avgdl,
            )
            order = np.argsort(-bounds, kind="stable")
            pos, batch = 0, 64
            parts = []
            while pos < len(order):
                take = order[pos:pos + batch]
                ids, tfs, dls = decode(g.take(take))
                parts.append((ids, tfs, dls))
                rel = ids - base
                seen[rel] = True
                score_sel[rel] += S.bm25_term_contrib(
                    tfs.astype(np.float64), d["df"], dls.astype(np.float64),
                    n, avgdl,
                )
                pos += len(take)
                batch *= 2  # geometric growth bounds the re-check cost
                if pos >= len(order):
                    break
                cand_sel = score_sel[seen]
                if len(cand_sel) >= k:
                    kth = float(
                        np.partition(cand_sel, len(cand_sel) - k)[
                            len(cand_sel) - k
                        ]
                    )
                    if qf(float(bounds[order[pos]])) < qf(kth):
                        break
            if cache is not None and pos >= len(order):
                cache.put(d["t"]["term"], tuple(
                    np.concatenate([p[i] for p in parts]) for i in range(3)
                ))
        stats = dict(
            qid=qid, n_scored_terms=1, n_essential=1,
            blocks_total=g.num_rows, blocks_decoded=pos, cache_hit=cache_hit,
        )
        return (*_dense_topk(score_sel, seen, deferred, k, base), stats)

    # SELECTION (MaxScore at block-metadata granularity — the mid-idf
    # head-term lever): decode terms in descending bound order; once the
    # summed bounds of the remaining terms quantize strictly below the
    # current k-th best partial (one extra quantum of margin swallows the
    # reordered-summation ulps of this phase), a doc with no hit in the
    # decoded "essential" terms can never enter the top-k — even on a
    # doc_id tie — so the remaining (head) terms only need blocks whose
    # doc-id range contains an already-seen candidate.
    n_ess = 0
    for d in by_bound:
        if n_ess > 0:
            # rest_bound is recomputed EXACTLY each iteration (at most |q|
            # adds) rather than decremented from the initial total, so
            # catastrophic cancellation between a huge decoded bound and
            # small remaining ones can never leave it under-estimated
            # beyond the one spare quantum reserved below
            rest_bound = sum(x["bound"] for x in by_bound[n_ess:])
            cand_sel = score_sel[seen]
            if len(cand_sel) >= k:
                theta = float(
                    np.partition(cand_sel, len(cand_sel) - k)[len(cand_sel) - k]
                )
                if qf(rest_bound) < qf(theta) - 1:
                    break
        term = d["t"]["term"]
        hit = cache.get(term) if cache is not None else None
        if hit is None:
            hit = decode(d["g"])
            if cache is not None:
                cache.put(term, hit)
        ids, tfs, dls = hit
        decoded[term] = hit
        rel = ids - base
        seen[rel] = True
        score_sel[rel] += S.bm25_term_contrib(
            tfs.astype(np.float64), d["df"], dls.astype(np.float64), n, avgdl
        )
        n_ess += 1

    # FILL-IN: skipped terms still contribute to candidates' exact scores —
    # decode only their blocks whose [first_doc_id, max_doc_id] range holds
    # a candidate (head-term blocks are doc-dense, candidates sparse, so
    # most blocks drop)
    blocks_decoded = sum(d["g"].num_rows for d in by_bound[:n_ess])
    if n_ess < len(by_bound):
        # CANDIDATE FILTER (exact MaxScore step 2): a candidate whose upper
        # bound — its exact partial over the essential terms plus the summed
        # bounds of every undecoded term — quantizes strictly below the
        # running k-th best partial (one spare quantum for the reordered-
        # sum ulps, the same margin as the selection break) can never enter
        # the top-k, even on a doc_id tie: there are >= k candidates whose
        # EXACT scores are >= their partials = theta > the dropped one's
        # ceiling.  Dropping them up front narrows the doc-id ranges the
        # fill-in must decode, which is where multi-term queries spend
        # their decode budget.  Contributions only grow (bm25 terms are
        # non-negative), so partials are valid lower bounds.
        rest_total = sum(x["bound"] for x in by_bound[n_ess:])
        cand_idx = np.flatnonzero(seen)
        if len(cand_idx) >= k:
            partials = score_sel[cand_idx]
            theta = float(
                np.partition(partials, len(partials) - k)[len(partials) - k]
            )
            ub_q = np.floor(
                np.log(np.maximum(partials + rest_total, 1.0)) * _RANK_Q
            )
            drop = ub_q < qf(theta) - 1
            if drop.any():
                seen[cand_idx[drop]] = False
        cum = np.zeros(span + 1, dtype=np.int64)
        np.cumsum(seen, out=cum[1:])
        for d in by_bound[n_ess:]:
            term = d["t"]["term"]
            hit = cache.get(term) if cache is not None else None
            if hit is not None:
                # full cached arrays supersede the partial decode: extra
                # (non-candidate) contributions only touch docs that the
                # bound argument already excludes from the top-k
                decoded[term] = hit
                continue
            g = d["g"]
            lo = _col(g, "first_doc_id") - base
            hi = _col(g, "max_doc_id") - base
            keep = (cum[hi + 1] - cum[lo]) > 0
            if cache is not None and cache.max_postings > 0 and keep.mean() > 0.5:
                # candidates blanket most of this term's block ranges (the
                # common mid-df case): a full decode costs barely more than
                # the partial one and makes the term cacheable, so repeat
                # queries skip the decode entirely
                full = decode(g)
                cache.put(term, full)
                decoded[term] = full
                blocks_decoded += g.num_rows
            elif keep.any():
                decoded[term] = decode(g.filter(keep))
                blocks_decoded += int(keep.sum())
    stats = dict(
        qid=qid, n_scored_terms=len(by_bound), n_essential=n_ess,
        blocks_total=sum(d["g"].num_rows for d in by_bound),
        blocks_decoded=blocks_decoded,
    )

    # EXACT accumulation in term_idx order over the decoded blocks — the
    # same per-doc left-to-right fold as ordered_sum/the oracle (a doc
    # appears in at most one block per term), so candidate scores are
    # bit-identical to the unpruned paths
    score = np.zeros(span, dtype=np.float64)
    for t in terms:
        dec = decoded.get(t["term"])
        if dec is None:
            continue
        ids, tfs, dls = dec
        score[ids - base] += S.bm25_term_contrib(
            tfs.astype(np.float64), float(t["df"]), dls.astype(np.float64),
            n, avgdl,
        )
    return (*_dense_topk(score, seen, deferred, k, base), stats)


def _score_by_salt(
    qid: str,
    blocks: dict[str, pa.Table],
    q_terms: dict[str, list[dict]],
    n: float,
    avgdl: float,
    k: int,
    salt_range: int,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """The pruned kernel over each salt range of one query's slice (doc-
    disjoint groups of <= salt_range ids, as search() groups them), merged
    into the exact top-k; counters are summed over the groups.  No decode
    cache: its arrays hold whole posting lists, which fall outside a
    group's doc-id base."""
    groups: dict[int, dict[str, pa.Table]] = {}
    for term, g in blocks.items():
        salt = _col(g, "first_doc_id") // salt_range
        for sv in np.unique(salt).tolist():
            groups.setdefault(sv, {})[term] = g.filter(salt == sv)
    parts = [
        _score_group_dense(qid, grp, q_terms, n, avgdl, k)
        for grp in groups.values()
    ]
    top = _merge_topk([
        (d, s) for ids, scores, _ in parts for d, s in zip(ids, scores)
    ], k)
    stats = {
        key: sum(st[key] for _, _, st in parts)
        for key in ("n_scored_terms", "n_essential", "blocks_total",
                    "blocks_decoded")
    }
    return (np.array([d for d, _ in top], np.int64),
            np.array([s for _, s in top], np.float64), {"qid": qid, **stats})


def _dense_topk(
    score: np.ndarray,
    seen: np.ndarray,
    deferred: list[pa.Table],
    k: int,
    base: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Shared dense-scorer tail: zero-idf candidacy fill, bm25 finalize,
    quantized-key pre-selection, top-k (doc_ids, scores).  score/seen are
    indexed by doc_id - base."""
    cand = np.flatnonzero(seen)
    # a zero-idf term's docs all score exactly 0: they can only reach the
    # top-k when fewer than k positive-quantized scores exist, so their
    # (large, Zipf-head) doc-id streams are decoded only in that rare case
    if deferred:
        need_zero = len(cand) < k
        if not need_zero:
            kth_raw = np.partition(score[cand], len(cand) - k)[len(cand) - k]
            need_zero = math.floor(math.log(max(kth_raw, 1.0)) * _RANK_Q) <= 0
        if need_zero:
            for g in deferred:
                ids = decode_table(g, ids_only=True).astype(np.int64)
                seen[ids - base] = True
            cand = np.flatnonzero(seen)
    if not len(cand):
        return _no_hits()
    sc = np.log(np.maximum(score[cand], 1.0))  # bm25 finalize
    qkeys = np.floor(sc * _RANK_Q).astype(np.int64)
    if len(cand) > max(4096, 4 * k):
        # full lexsort of millions of candidates for a top-20 is the tail
        # cost at 2M+ docs: pre-select everything >= the k-th quantized key
        # (ties INCLUDED, so doc_id ordering among equals is preserved)
        kth = np.partition(qkeys, len(qkeys) - k)[len(qkeys) - k]
        keep = qkeys >= kth
        cand, sc, qkeys = cand[keep], sc[keep], qkeys[keep]
    order = np.lexsort((cand, -qkeys))[:k]
    return cand[order] + base, sc[order]


def _score_group_bool(
    qid: str,
    blocks: dict[str, pa.Table],
    q_terms: dict[str, list[dict]],
    n: float,
    avgdl: float,
    model: str,
    k: int,
    excl_terms: dict[str, set[str]] | None = None,
    cache: "DecodedTermCache | None" = None,
    return_all: bool = False,
    cand_init: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Conjunctive (AND / AND-NOT) retrieval over one (qid[, salt]) group
    -> (top-k doc_ids, their scores, skip statistics):
    only docs containing EVERY query term and NONE of the excluded terms
    are scored (same model kernels and quantized rank key as the OR path,
    so AND of a single term is rank-identical to OR).

    Block-skip intersection: terms are processed df-ascending — the rarest
    term is decoded in full and every later term decodes ONLY the blocks
    whose [first_doc_id, max_doc_id] range still contains a surviving
    candidate (binary search on the sorted candidate ids).  On a Zipf web
    corpus the rare term bounds the candidate set at once, so the head
    terms' (huge) posting lists are mostly skipped — the classic
    smallest-list-first conjunctive plan, done at block granularity with
    the metadata the index already carries.  Works under both block
    layouts (ids are re-sorted after decode, so impact-ordered blocks are
    fine).  The skip counters are bool_blocks_total, bool_blocks_decoded
    and bool_candidates.

    return_all=True yields every matching doc (no top-k cut) — the phrase
    path filters by adjacency before cutting.

    cand_init: optional sorted unique doc-id restriction (e.g. a nextword
    store's exact-adjacency postings).  Scores are per-doc, so restricting
    the candidate set is value-identical to filtering the unrestricted
    result afterwards — and every term's decode is block-pruned to the
    restriction from the start."""
    excl = (excl_terms or {}).get(qid, set())
    terms = [t for t in q_terms[qid] if t["term"] not in excl]
    if not terms:
        return (*_no_hits(), {})
    blocks_total = sum(g.num_rows for g in blocks.values())
    blocks_decoded = 0

    # a required term with no postings -> AND can match nothing
    if any(t["term"] not in blocks for t in terms):
        return (*_no_hits(), {"bool_blocks_total": blocks_total,
                              "bool_blocks_decoded": 0, "bool_candidates": 0})

    def decode_term(term: str, g: pa.Table, cand: np.ndarray | None):
        """Full decode via cache when available, else block-pruned decode;
        (ids, tfs, dls) sorted by id."""
        nonlocal blocks_decoded
        hit = cache.get(term) if cache is not None else None
        if hit is None:
            if cand is not None:
                lo = np.searchsorted(cand, _col(g, "first_doc_id"), side="left")
                hi = np.searchsorted(cand, _col(g, "max_doc_id"), side="right")
                g = g.filter(lo < hi)
            blocks_decoded += g.num_rows
            hit = decode_table(g)
        ids, tfs, dls = hit
        ids = ids.astype(np.int64)
        order = np.argsort(ids, kind="stable")
        return ids[order], tfs[order].astype(np.float64), dls[order].astype(
            np.float64
        )

    ordered = sorted(terms, key=lambda t: (float(t["df"]), t["term"]))
    decoded: dict[str, tuple] = {}
    cand: np.ndarray | None = (
        None if cand_init is None else np.asarray(cand_init, dtype=np.int64)
    )
    for t in ordered:
        term = t["term"]
        ids, tfs, dls = decode_term(term, blocks[term], cand)
        decoded[term] = (ids, tfs, dls)
        cand = ids if cand is None else cand[
            np.isin(cand, ids, assume_unique=True)
        ]
        if not len(cand):
            break
    if cand is not None and len(cand):
        for xt in sorted(excl):
            g = blocks.get(xt)
            if g is None:
                continue
            x_ids, _, _ = decode_term(xt, g, cand)
            cand = cand[~np.isin(cand, x_ids, assume_unique=True)]
            if not len(cand):
                break
    stats = {"bool_blocks_total": blocks_total,
             "bool_blocks_decoded": blocks_decoded,
             "bool_candidates": int(len(cand) if cand is not None else 0)}
    if cand is None or not len(cand):
        return (*_no_hits(), stats)

    tf_by_term: dict[str, np.ndarray] = {}
    dl = None
    for term, (ids, tfs, dls) in decoded.items():
        pos = np.searchsorted(ids, cand)
        tf_by_term[term] = tfs[pos]
        if dl is None:
            dl = dls[pos]
    scores = S.score_terms(model, terms, tf_by_term, dl, n, avgdl)
    qkeys = np.floor(scores * _RANK_Q).astype(np.int64)
    order = np.lexsort((cand, -qkeys))
    if not return_all:
        order = order[:k]
    return cand[order], scores[order], stats


def _salt_ranges(n_salts: int, parallelism: int) -> list[tuple[int | None, int | None]]:
    """search()'s tasks: min(n_salts, parallelism) contiguous salt ranges
    [lo, hi) over salt ids 0..n_salts-1, the first open below and the last
    open above, so together they hold every salt id exactly once."""
    parts = max(1, min(n_salts, parallelism))
    cuts = [n_salts * i // parts for i in range(1, parts)]
    return list(zip([None, *cuts], [*cuts, None]))


def _score_salts(
    files: list[str], terms: list[str], salts: tuple[int | None, int | None],
    q_terms: dict[str, list[dict]], excl: dict[str, set[str]],
    n: float, avgdl: float, model: str, prune: bool, mode: str, k: int,
) -> pa.RecordBatch:
    """One search() task: the block rows of `terms` (every query and
    excluded term the index holds) in the salt range `salts` of `files`
    (their buckets' files), scored per (qid, salt) group by the kernel
    that mode and model route to, then merged per query into at most k
    (qid, doc_id, score) rows."""
    want = {
        qid: [t["term"] for t in ts] + sorted(excl.get(qid, ()))
        for qid, ts in q_terms.items()
    }
    tbl = _read_blocks(files, terms, [*_BLOCK_COLUMNS, "salt"], salts)
    hits: dict[str, list[tuple[int, float]]] = {}
    for grp in _split_by(tbl, "salt").values():
        blocks = _split_by(grp)
        for qid, ts in want.items():
            sub = {t: blocks[t] for t in ts if t in blocks}
            if not sub:
                continue
            if mode == "and":
                ids, scores, _ = _score_group_bool(
                    qid, sub, q_terms, n, avgdl, model, k, excl_terms=excl)
            elif prune and model == "bm25":
                ids, scores, _ = _score_group_dense(qid, sub, q_terms, n, avgdl, k)
            else:
                ids, scores = _score_group(qid, sub, q_terms, n, avgdl, model, k)
            hits.setdefault(qid, []).extend(zip(ids.tolist(), scores.tolist()))
    rows = [(q, d, s) for q, c in hits.items() for d, s in _merge_topk(c, k)]
    return pa.RecordBatch.from_pydict(
        {name: [r[i] for r in rows] for i, name in enumerate(_HITS_SCHEMA.names)},
        schema=_HITS_SCHEMA,
    )


def _qid_key(qid: str) -> tuple:
    """Total order of search()'s result qids: numeric qids by value, then
    the rest by string."""
    return (0, int(qid), qid) if qid.isdecimal() else (1, 0, qid)


def _check_choice(name: str, value: str, allowed: tuple[str, ...]) -> None:
    if value not in allowed:
        raise ValueError(f"{name} must be one of {allowed}, got {value!r}")


def _query_term_dicts(queries: list[tuple[str, str]]):
    """[(qid, text)] -> ({qid: [term dicts]}, all_terms set) — shared by the
    distributed and serving paths."""
    from ..oracle.tokenizer import tokenize_query

    q_terms: dict[str, list[dict]] = {}
    all_terms: set[str] = set()
    for qid, qtext in queries:
        seen: dict[str, dict] = {}
        for pos, t in enumerate(tokenize_query(qtext)):
            if t in seen:
                seen[t]["q_tf"] += 1
            else:
                seen[t] = {"term": t, "term_idx": pos, "q_tf": 1}
        q_terms[str(qid)] = list(seen.values())
        all_terms.update(seen)
    return q_terms, all_terms


def _delete1_py(t: str) -> list[str]:
    """The term itself + every single-char deletion (SymSpell key set) —
    mirrors operators/spell.delete1_keys."""
    return [t] + [t[:i] + t[i + 1:] for i in range(len(t))]


def _build_spell_index(df_dict: dict[str, float]) -> dict[str, list[str]]:
    idx: dict[str, list[str]] = {}
    for t in df_dict:
        for dk in _delete1_py(t):
            idx.setdefault(dk, []).append(t)
    return idx


def _suggest_from_dict(
    terms: list[str],
    df_dict: dict[str, float],
    spell_index: dict[str, list[str]],
    min_len: int,
) -> dict[str, tuple[str, int, float]]:
    """Shared suggest core: the exact operators/spell.spell_correct spec
    over a driver-side (term -> df) dict."""
    out: dict[str, tuple[str, int, float]] = {}
    for t in dict.fromkeys(terms):
        if len(t) < min_len:
            continue
        cands: set[str] = set()
        for dk in _delete1_py(t):
            cands.update(spell_index.get(dk, ()))
        best = None
        for c in cands:
            ed = _lev_le1(t, c)
            if ed is None:
                continue
            key = (ed, -df_dict[c], c)
            if best is None or key < best[0]:
                best = (key, c, ed)
        if best is not None:
            out[t] = (best[1], best[2], df_dict[best[1]])
    return out


def _lev_le1(a: str, b: str) -> int | None:
    """0 if equal, 1 if levenshtein(a, b) == 1, else None (cheap exact
    check — candidates come pre-screened by delete-key intersection)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return None
    if la == lb:
        seen = False
        for x, y in zip(a, b):
            if x != y:
                if seen:
                    return None
                seen = True
        return 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return 1 if a[i:] == b[i + 1:] else None


class IndexReader:
    """Reads a committed index (build.build_index layout), pinned to the
    generation field_stats.json commits when the reader opens: every scan
    touches only that generation's postings files; the reader reads no
    term_stats file.  Maintenance deletes a file only at the second commit
    that does not list it, so a reader survives at least one later commit,
    and any number of append folds (which drop no postings file).  Open a
    new reader to see later commits.

    Every term lookup (term_stats_for, search_local, prewarm, suggest,
    facet_counts_local, search()'s df) goes through one resident term
    directory per bucket: the first call that touches bucket b reads b's
    live files once and keeps its sorted unique terms as an Arrow string
    array, int32 row offsets and int64 df (the sum of n_docs over each
    term's block rows), with the block rows as an Arrow table sorted by
    term.  Later calls binary-search the term array's buffers and take
    zero-copy slices, so a query runs no parquet scan.  A df-only lookup
    (term_stats_for, suggest, search()) reads a bucket's term and n_docs
    columns only; the first block lookup then reads its rows, once.  A
    bucket whose live files exceed _RESIDENT_MAX_BYTES keeps only its
    directory; its block rows are read with a filtered scan on every call
    instead, and both branches give the same rows in the same order.

    Thread safety: search_local, prewarm, facet_counts_local, suggest and
    term_stats_for may run concurrently on one reader.  Buckets load under
    the reader's lock (a directory once, its rows at most once), and the
    decode cache locks its own state.  last_query_stats() then reports
    whichever search_local call started last."""

    # a bucket whose live postings files hold more bytes than this keeps
    # only its term directory: each serving call scans its block rows with
    # a bucket and term filter instead.  A loaded bucket holds 1.4-1.9x its
    # files' bytes (measured at 100k and 3k docs) plus ~23 bytes per
    # distinct term for its directory, so the ceiling bounds one bucket at
    # ~120 MB plus its directory.  Per-instance override hook.
    _RESIDENT_MAX_BYTES = 64 << 20

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.field_stats = read_field_stats(index_dir)
        self.n_buckets = int(self.field_stats["n_buckets"])
        check_codec(self.field_stats, index_dir)
        self.block_order = self.field_stats.get("block_order", "docid")
        # the doc tokenizer the index was built with (phrase verification
        # must tokenize identically); older indexes predate the key
        self.tokenizer = self.field_stats.get("tokenizer", "spec")
        # serving hot-term cache (decoded postings; one index snapshot per
        # reader, so no invalidation concern).  Budget scales with the
        # corpus: a fixed 10M-posting cap starves large indexes (at 2M docs
        # one head term is ~800k postings, so 10M held ~12 terms); 12
        # postings/doc ≈ the head-term working set of a Zipf query stream,
        # ~576 MB of arrays at 2M docs — coordinator-sized.  Override by
        # replacing the cache (reader.decode_cache = DecodedTermCache(n)).
        self.decode_cache = DecodedTermCache(
            max_postings=max(10_000_000,
                             12 * int(self.field_stats.get("n_docs", 0)))
        )
        # lazy (vocabulary {term: df}, its delete-key index) for suggest();
        # built once per reader
        self._spell: tuple[dict, dict] | None = None
        # lazy facet sidecar reader (facet_counts_local)
        self._facet_store = None
        # lazy nextword (head-head bigram) store reader, None if absent
        self._nextword = False  # False = not yet probed
        # the last search_local call's skip counters (last_query_stats)
        self._last_stats: dict = {}
        # resident term directory: bucket -> its _TermDir
        self._resident: dict[int, _TermDir] = {}
        self._bucket_loads = 0
        # guards the lazy one-time bucket loads
        self._lock = threading.Lock()

    def _nextword_store(self):
        if self._nextword is False:
            from .nextword import NextwordStore

            meta = os.path.join(self.index_dir, "nextword", "_nextword.json")
            self._nextword = (
                NextwordStore(self.index_dir) if os.path.exists(meta) else None
            )
        return self._nextword

    def term_stats_for(self, terms: list[str]) -> dict[str, float]:
        """{term: df} for the `terms` the index holds, from the term
        directory (a bucket first touched here loads its directory only)."""
        return {
            t: float(d.df[i])
            for _, d, ts, pos in self._lookup(terms, rows=False)
            for t, i in zip(ts, pos) if i >= 0
        }

    def search(
        self,
        queries: list[tuple[str, str]] | DataFrame,
        k: int = 20,
        model: str = "bm25",
        prune: bool = True,
        mode: str = "or",
        exclude: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """queries: [(qid, query_text)] or DataFrame(qid string, query string).
        Returns (qid, doc_id, score, rank) — TREC-shaped, rank-identical to
        the full-scan path/oracle; numeric qids by value, then the rest by
        string.  One Spark job (module docstring): min(salt ranges,
        defaultParallelism) tasks of contiguous salt ranges each score
        their (qid, salt) groups (_score_salts) and the driver merges
        their per-query top-k; the df come from the driver's term
        directory, and collecting the result runs no further job.

        mode="and" / exclude: conjunctive (AND-NOT) retrieval.  Correct
        under the salted layout because the salt is a CONTIGUOUS DOC
        RANGE shared by every term — each (qid, salt) group sees all
        postings of its doc range, so per-group intersection composes to
        the global one.
        """
        _check_choice("model", model, S.MODELS)
        _check_choice("mode", mode, ("or", "and"))
        if isinstance(queries, DataFrame):
            queries = [(r["qid"], r["query"]) for r in queries.collect()]
        excl_map = {str(q): set(ts) for q, ts in (exclude or {}).items()}
        if excl_map and mode != "and":
            raise ValueError("exclude requires mode='and'")
        q_terms, all_terms = _query_term_dicts(queries)
        all_terms = all_terms.union(*excl_map.values())
        dfs = self.term_stats_for(sorted(all_terms))
        for terms in q_terms.values():
            for t in terms:
                t["df"] = dfs.get(t["term"], 0.0)
        if not dfs:
            return self._rows_df([])  # no query term is in the index

        n = float(self.field_stats["n_docs"])
        avgdl = float(self.field_stats["avg_doc_len"])
        terms = sorted(dfs)
        files = [f for b, _ in self._by_bucket(terms) for f in self._bucket_files[b]]
        n_salts = -(-int(n) // int(self.field_stats["salt_range"])) or 1
        ranges = _salt_ranges(n_salts, self.spark.sparkContext.defaultParallelism)

        def task(batches):
            for batch in batches:
                for i in batch.column(0).to_pylist():
                    yield _score_salts(files, terms, ranges[i], q_terms,
                                       excl_map, n, avgdl, model, prune, mode, k)

        hits = self.spark.range(0, len(ranges), 1, len(ranges)).mapInArrow(
            task, _HITS_SCHEMA_DDL).toArrow()
        by_q: dict[str, list[tuple[int, float]]] = {}
        for qid, doc_id, score in zip(*(hits[c].to_pylist() for c in _HITS_SCHEMA.names)):
            by_q.setdefault(qid, []).append((doc_id, score))
        return self._rows_df([
            (qid, doc_id, score, rank)
            for qid in sorted(by_q, key=_qid_key)
            for rank, (doc_id, score) in enumerate(_merge_topk(by_q[qid], k), start=1)
        ])

    def _rows_df(self, rows: list[tuple]) -> DataFrame:
        """TREC-shaped rows -> DataFrame, built from an Arrow table: a
        local relation, so collecting it runs no Spark job."""
        cols = list(zip(*rows)) or [()] * 4
        return self.spark.createDataFrame(pa.table({
            "qid": pa.array(cols[0], pa.string()),
            "doc_id": pa.array(cols[1], pa.int64()),
            "score": pa.array(cols[2], pa.float64()),
            "rank": pa.array(cols[3], pa.int32()),
        }), "qid string, doc_id long, score double, rank int")

    # ------------------------------------------------------------------
    # serving path: no Spark job per query

    # if the queries' pruned slice exceeds this many postings, search_auto
    # routes to the distributed path instead of the coordinator
    _LOCAL_MAX_POSTINGS = 20_000_000
    # ceiling on the doc-id span search_local scores as ONE group: the
    # pruned kernel keeps ~9 bytes per doc id of the span (~450 MB at the
    # cap, coordinator-sized); a wider slice is scored per salt range
    _DENSE_MAX_DOCS = 50_000_000

    def search_auto(
        self, queries: list[tuple[str, str]], k: int = 20,
        model: str = "bm25", prune: bool = True,
    ):
        """Route point queries to the serving path when the |q|-term slice is
        coordinator-sized (sum of df from the term directory), else run
        distributed.  Returns a DataFrame either way."""
        q_terms, all_terms = _query_term_dicts(queries)
        dfs = self.term_stats_for(sorted(all_terms))
        slice_postings = sum(dfs.values())
        if slice_postings <= self._LOCAL_MAX_POSTINGS:
            rows = self.search_local(queries, k=k, model=model, prune=prune)
            return self._rows_df(rows)
        return self.search(queries, k=k, model=model, prune=prune)

    @functools.cached_property
    def _bucket_files(self) -> dict[int, list[str]]:
        """bucket -> its files in the pinned generation, in live-list
        order (buckets with no file are absent)."""
        out: dict[int, list[str]] = {}
        for p in live_files(self.index_dir, "postings", self.field_stats):
            b = int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
            out.setdefault(b, []).append(p)
        return out

    @functools.cached_property
    def _bucket_bytes(self) -> dict[int, int]:
        """bucket -> bytes of its live postings files (file sizes only)."""
        return {b: sum(map(os.path.getsize, fs))
                for b, fs in self._bucket_files.items()}

    def _by_bucket(self, terms) -> list[tuple[int, list[str]]]:
        """`terms` grouped by bucket: (bucket, its terms sorted), in
        bucket order."""
        out: dict[int, list[str]] = {}
        for t in sorted(set(terms)):
            out.setdefault(term_bucket_py(t, self.n_buckets), []).append(t)
        return sorted(out.items())

    def _load_bucket(self, b: int, rows: bool) -> _TermDir:
        """Bucket b's term directory, with its block rows if `rows`
        (otherwise read from its term and n_docs columns only)."""
        tbl, terms, offs = _term_runs(_read_blocks(
            self._bucket_files[b], None,
            _BLOCK_COLUMNS if rows else ["term", "n_docs"]))
        df = np.add.reduceat(_col(tbl, "n_docs"), offs[:-1])
        held = terms.nbytes + offs.nbytes + df.nbytes
        if not rows:
            return _TermDir(terms, offs, df, None, held)
        return _TermDir(terms, offs, df, tbl, held + tbl.nbytes)

    def _bucket(self, b: int, rows: bool = True) -> _TermDir:
        """Bucket b's term directory, loaded by the first call to touch b
        (under the reader's lock: once per bucket, however many threads
        race to it).  With `rows`, a bucket within _RESIDENT_MAX_BYTES
        holds its block rows: one loaded by a df lookup only loads again,
        with them, once."""
        if b not in self._bucket_files:
            return _NO_TERMS
        rows = rows and self._bucket_bytes[b] <= self._RESIDENT_MAX_BYTES
        d = self._resident.get(b)
        if d is None or (rows and d.tbl is None):
            with self._lock:
                d = self._resident.get(b)
                if d is None or (rows and d.tbl is None):
                    d = self._resident[b] = self._load_bucket(b, rows)
                    self._bucket_loads += 1
        return d

    def _lookup(self, terms, rows: bool = True) -> list[tuple]:
        """The reader's one term lookup: per touched bucket, in bucket
        order, (bucket, its directory, its `terms` sorted, their directory
        positions with -1 for absent terms)."""
        out = []
        for b, ts in self._by_bucket(terms):
            d = self._bucket(b, rows)
            out.append((b, d, ts, _find(d.terms, ts)))
        return out

    def _blocks(self, terms) -> tuple[dict[str, pa.Table], dict[str, float], int]:
        """The one block source of the serving path: ({term: its posting-
        block rows} and {term: df} for the `terms` the index holds, the
        number of buckets read by the scan fallback).  Terms come in
        (bucket, term) order, each term's rows in the live files' order,
        whether the bucket is resident (zero-copy slices of its table) or
        over the ceiling (a filtered scan)."""
        blocks: dict[str, pa.Table] = {}
        dfs: dict[str, float] = {}
        n_scanned = 0
        for b, d, ts, pos in self._lookup(terms):
            if d.tbl is None:
                n_scanned += 1
                blocks.update(_split_by(_read_blocks(self._bucket_files[b], ts)))
            for t, i in zip(ts, pos):
                if i < 0:
                    continue
                dfs[t] = float(d.df[i])
                if d.tbl is not None:
                    start, stop = int(d.rows[i]), int(d.rows[i + 1])
                    blocks[t] = d.tbl.slice(start, stop - start)
        return blocks, dfs, n_scanned

    def prewarm(self, n_terms: int = 256) -> dict:
        """Serving cold-start prewarm: load every bucket's term directory,
        and pre-decode the highest-df POSITIVE-idf terms into the
        DecodedTermCache (zero-idf Zipf-head terms contribute 0 to every
        score and are decoded lazily by the scorer only in the rare
        under-k case, so caching them would spend the postings budget on
        dead weight).  Fill stops at the cache's postings budget — prewarm
        never evicts what it just decoded.
        Returns {terms_warmed, postings_cached, sec} for observability.
        Loading the buckets amortizes exactly the first-touch latency a
        cold coordinator otherwise pays on its first queries."""
        t0 = time.time()
        n = float(self.field_stats["n_docs"])
        dirs = [self._bucket(b) for b in range(self.n_buckets)]
        df = np.concatenate([d.df for d in dirs]).astype(np.float64)
        head = pa.table({
            "df": df, "term": pa.concat_arrays([d.terms for d in dirs]),
        }).filter((n - df + 0.5) / (df + 0.5) > 1.0)  # positive idf
        # (-df, term) order; a term lives in one bucket, so the key is total
        head = head.take(pc.sort_indices(
            head, [("df", "descending"), ("term", "ascending")])[:4 * n_terms])
        budget = self.decode_cache.max_postings
        picked: list[int] = []
        total = 0
        for i, t_df in enumerate(head["df"].to_numpy().astype(np.int64).tolist()):
            if len(picked) >= n_terms:
                break
            if total + t_df > budget:
                continue
            picked.append(i)
            total += t_df
        if not picked:
            return {"terms_warmed": 0, "postings_cached": 0,
                    "sec": round(time.time() - t0, 3)}
        warmed = cached = 0
        terms = head["term"].take(picked).to_pylist()
        for term, g in self._blocks(terms)[0].items():
            if self.decode_cache.get(term) is not None:
                continue
            ids, tfs, dls = decode_table(g)
            self.decode_cache.put(term, (ids.astype(np.int64), tfs, dls))
            warmed += 1
            cached += len(ids)
        return {"terms_warmed": warmed, "postings_cached": cached,
                "sec": round(time.time() - t0, 3)}

    def facet_counts_local(
        self, queries: list[tuple[str, str]], facet: str, mode: str = "or"
    ) -> list[tuple[str, str, int]]:
        """Serving-side facets (ES-aggs shape): for each query, count how
        the match set distributes over a categorical document attribute
        from the facet sidecar (index/facetstore.write_facet_store).

        mode="or" (default): docs containing ANY query term — the same OR
        match set operators/facets.facet_counts aggregates.
        mode="and": drill-down facets — docs containing EVERY query term
        (per-term id-stream decode, sorted-array intersection); a query
        with any out-of-vocabulary term has an empty AND set.

        Cost per query: the |q| terms' block slices from the resident term
        directory + id-only decode of their doc-id streams (tf/doc_len
        never decoded — same lever as the zero-idf candidacy path) and one
        np.bincount over the dense code array; independent of corpus size
        given the match set.
        Returns [(qid, facet_value, n_docs)], zero-count values omitted.
        """
        from .facetstore import FacetStore

        if mode not in ("or", "and"):
            raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
        if self._facet_store is None:
            self._facet_store = FacetStore(self.index_dir)
        q_terms, all_terms = _query_term_dicts(queries)
        blocks = self._blocks(all_terms)[0]
        out: list[tuple[str, str, int]] = []
        for qid, _qtext in queries:
            qid = str(qid)
            terms = {t["term"] for t in q_terms[qid]}
            if not terms:
                continue
            if mode == "and":
                per_term = []
                for t in sorted(terms):
                    if t not in blocks:
                        per_term = None  # OOV term -> empty conjunction
                        break
                    per_term.append(
                        decode_table(blocks[t], ids_only=True).astype(np.int64)
                    )
                if per_term is None:
                    continue
                ids = per_term[0]
                for arr in per_term[1:]:
                    # posting lists are unique-sorted per term by build
                    ids = np.intersect1d(ids, arr, assume_unique=True)
                if not len(ids):
                    continue
            else:
                sub = [g for t, g in blocks.items() if t in terms]
                if not sub:
                    continue
                ids = np.unique(decode_table(
                    pa.concat_tables(sub), ids_only=True,
                ).astype(np.int64))
            for value, cnt in self._facet_store.counts(facet, ids):
                out.append((qid, value, cnt))
        return out

    def last_query_stats(self) -> dict:
        """Serving introspection after a search_local call on THIS reader:
        the skip statistics of its last query's kernel — the pruned bm25
        kernel's blocks_decoded/blocks_total, n_essential/n_scored_terms
        (MaxScore essential-term count) and cache_hit, or the AND kernel's
        bool_* counters — plus the decode cache's hit/miss counters and
        fill level.  For operators watching whether pruning and caching
        actually engage on their workload — the same numbers the bench and
        the skip-rate tests read.

        Each search_local call starts a fresh stats dict on its reader, so
        the numbers describe that reader's most recent local search only,
        whatever other readers or threads do meanwhile.  A slice scored per
        salt range sums the counters over its groups.  The distributed
        search() path does not report them: its scoring runs on executors.

        The resident term directory reports on the reader as a whole:
        resident_buckets (buckets whose block rows are loaded),
        resident_bytes (those Arrow tables plus every loaded bucket's
        directory), bucket_loads (bucket reads so far: a bucket loads at
        most twice per reader, its directory for a df lookup, then its
        directory and rows for a block lookup); scan_fallback_buckets is the
        number of buckets the last search_local call read with the scan
        fallback (over _RESIDENT_MAX_BYTES)."""
        dirs = list(self._resident.values())
        return {
            **self._last_stats,
            "cache_hits": self.decode_cache.hits,
            "cache_misses": self.decode_cache.misses,
            "cache_postings": self.decode_cache._total,
            "cache_budget": self.decode_cache.max_postings,
            "cache_terms": len(self.decode_cache._d),
            "resident_buckets": sum(d.tbl is not None for d in dirs),
            "resident_bytes": sum(d.nbytes for d in dirs),
            "bucket_loads": self._bucket_loads,
        }

    def suggest(
        self, terms: list[str], min_len: int = 3
    ) -> dict[str, tuple[str, int, float]]:
        """Serving-side spell correction: {input: (suggestion, ed, df)} —
        the SAME spec as operators/spell.spell_correct (edit distance <= 1
        candidates via symmetric deletes, ranked (ed asc, df desc, term
        asc); in-vocab inputs return themselves at ed 0).

        The first call builds the {term: df} vocabulary from every
        bucket's term directory, then its delete-key index, once per
        reader; lookups are then dictionary probes — microseconds per
        query term.
        """
        if self._spell is None:
            vocab = self._vocab()
            self._spell = vocab, _build_spell_index(vocab)
        return _suggest_from_dict(terms, *self._spell, min_len)

    def _vocab(self) -> dict[str, float]:
        """{term: df} over the whole index, from every bucket's term
        directory (loads each directory, not its block rows)."""
        vocab: dict[str, float] = {}
        for b in range(self.n_buckets):
            d = self._bucket(b, rows=False)
            vocab.update(zip(d.terms.to_pylist(), d.df.astype(np.float64).tolist()))
        return vocab

    def search_local(
        self,
        queries: list[tuple[str, str]],
        k: int = 20,
        model: str = "bm25",
        prune: bool = True,
        stats_override: tuple[float, float, dict] | None = None,
        mode: str = "or",
        exclude: dict[str, list[str]] | None = None,
        _all_matches: bool = False,
        cand_init: dict[str, np.ndarray] | None = None,
    ) -> list[tuple[str, int, float, int]]:
        """Coordinator-local point-query path: the SAME block rows a Spark
        job would scan for the |q| terms are sliced from the reader's
        resident term directory (each touched bucket's live files are read
        once per reader, then looked up by term — no parquet scan per
        query; buckets over _RESIDENT_MAX_BYTES are scanned with a bucket
        and term filter instead) and scored on the driver with the same
        numpy kernels — no job scheduling, millisecond latency.  Exactly
        the scatter-gather a dedicated query node performs; correct
        whenever the slice of |q| terms fits driver memory (at larger
        fan-in fall back to search()).  Returns
        [(qid, doc_id, score, rank)] rank-identical to search()/oracle.

        mode="and": conjunctive retrieval — only docs containing EVERY
        query term (block-skip intersection, _score_group_bool).
        exclude={qid: [terms]} drops docs containing any excluded term
        (AND-NOT; requires mode="and").

        bm25 with prune=True runs the pruned kernel (_score_group_dense) on
        one group over the whole slice, with the reader's decode cache.  A
        slice whose doc-id span exceeds _DENSE_MAX_DOCS is scored per salt
        range instead (doc-disjoint groups, no cache) and merged.  Other
        models and prune=False run the unpruned _score_group."""
        _check_choice("model", model, S.MODELS)
        _check_choice("mode", mode, ("or", "and"))
        # a fresh dict per call: last_query_stats() reflects THIS call only
        # (an OR query must not report a previous AND query's bool_*
        # counters), and a concurrent call swaps in its own dict
        stats = self._last_stats = {}
        excl_map = {str(q): set(ts) for q, ts in (exclude or {}).items()}
        if excl_map and mode != "and":
            raise ValueError("exclude requires mode='and'")
        q_terms, all_terms = _query_term_dicts(queries)
        if excl_map:
            all_terms = set(all_terms)
            for ts in excl_map.values():
                all_terms.update(ts)
        if not all_terms:
            # no queries, or every query tokenized to nothing (e.g. a
            # stopword-only phrase) — an empty isin() set would reach
            # pyarrow as a null-typed array and raise ArrowTypeError
            return []
        # one directory probe per term gives its block rows and its df
        blocks, dfs, n_scanned = self._blocks(all_terms)
        if stats_override is not None:
            # sharded serving: score THIS shard's postings with the global
            # corpus statistics so per-shard top-k merge exactly
            n, avgdl, dfs = stats_override
        else:
            n = float(self.field_stats["n_docs"])
            avgdl = float(self.field_stats["avg_doc_len"])
        for terms in q_terms.values():
            for t in terms:
                t["df"] = dfs.get(t["term"], 0.0)
        out: list[tuple[str, int, float, int]] = []
        for qid, _qtext in queries:
            qid = str(qid)
            terms = {t["term"] for t in q_terms[qid]} | excl_map.get(qid, set())
            sub = {t: g for t, g in blocks.items() if t in terms}
            if not sub:
                continue
            st = None
            if mode == "and":
                ids, scores, st = _score_group_bool(
                    qid, sub, q_terms, n, avgdl, model, k,
                    excl_terms=excl_map, cache=self.decode_cache,
                    return_all=_all_matches,
                    cand_init=(cand_init or {}).get(qid),
                )
            elif not (prune and model == "bm25"):
                ids, scores = _score_group(qid, sub, q_terms, n, avgdl, model, k)
            elif _doc_span(sub)[1] <= self._DENSE_MAX_DOCS:
                # one group == all doc ranges -> its local top-k IS the
                # global one
                ids, scores, st = _score_group_dense(
                    qid, sub, q_terms, n, avgdl, k, cache=self.decode_cache,
                )
            else:
                ids, scores, st = _score_by_salt(
                    qid, sub, q_terms, n, avgdl, k,
                    int(self.field_stats["salt_range"]),
                )
            if st is not None:
                stats.clear()
                stats.update(st)
            for rank, (doc_id, score) in enumerate(zip(ids, scores), start=1):
                out.append((qid, int(doc_id), float(score), rank))
        stats["scan_fallback_buckets"] = n_scanned
        return out

    def search_phrase(
        self,
        queries: list[tuple[str, str]],
        k: int = 20,
        model: str = "bm25",
        tokenizer: str | None = None,
        verify: str = "auto",
    ) -> list[tuple[str, int, float, int]]:
        """Exact-phrase top-k: the standard two-phase web-serving shape.

        Phase 1 (inverted index): conjunctive candidates for the phrase's
        distinct terms via the block-skip intersection — at web scale the
        rarest phrase term bounds the candidate set, so this reads a tiny
        slice of the index.  Phase 2 (forward index): each candidate's
        token stream is fetched from the docstore (bucket-pruned reads)
        and the phrase is verified as a CONSECUTIVE token run; survivors
        keep their phase-1 scores and are cut to top-k under the engine
        rank key (quantized score desc, doc_id asc).

        The phrase is tokenized with the INDEX's doc tokenizer (recorded
        in field_stats; override with `tokenizer=`), so adjacency means
        "adjacent in the indexed token stream" — under the 'spec'
        tokenizer stopwords are not indexed and cannot appear inside a
        phrase.

        verify="positions" reads the positional store
        (index/positions.write_positions_store — pruned columnar read of
        the phrase terms' buckets + vectorized offset intersection);
        verify="docstore" re-tokenizes candidate texts from the forward
        index; "auto" prefers the positions store when present.  Both
        paths implement the same adjacency spec (tested equal).

        When a nextword store (index/nextword.py) is present, adjacent
        head-head pairs are answered from its exact-adjacency postings:
        a covered 2-token phrase needs no verification at all (the bigram
        postings ARE the phrase docs), and longer phrases intersect every
        covered pair's doc set into a phase-1 candidate restriction —
        identical results (the store is exact), minus the head-head
        candidate explosion the round-5 verdict measured."""
        from .docstore import DocStore
        from ..oracle.tokenizer import tokenize_doc, tokenize_simple

        tok = (
            tokenize_simple
            if (tokenizer or self.tokenizer) == "simple"
            else tokenize_doc
        )
        if verify == "auto":
            verify = (
                "positions"
                if os.path.isdir(os.path.join(self.index_dir, "positions"))
                else "docstore"
            )
        phrases = {str(q): tok(text) for q, text in queries}
        # nextword fast path: exact-adjacency postings for covered pairs
        nw = self._nextword_store()
        if nw is not None and nw.tokenizer != (tokenizer or self.tokenizer):
            nw = None  # store built under a different token stream
        cand_restrict: dict[str, np.ndarray] = {}
        nw_exact: set[str] = set()
        if nw is not None:
            for qid, toks in phrases.items():
                if len(toks) < 2:
                    continue
                pairs = list(zip(toks, toks[1:]))
                covered = [p for p in pairs if nw.covers(*p)]
                if not covered:
                    continue
                inter: np.ndarray | None = None
                for p in covered:
                    ids = nw.doc_ids(*p)
                    inter = ids if inter is None else inter[
                        np.isin(inter, ids, assume_unique=True)
                    ]
                    if not len(inter):
                        break
                cand_restrict[qid] = inter
                if len(pairs) == 1:
                    # the single covered pair IS the whole phrase:
                    # adjacency already proven, no verification needed
                    nw_exact.add(qid)
        # phase-1 conjunction must run over the DOC-TOKENIZED phrase, not
        # the raw text: search_local's query tokenizer is a whitespace
        # split, so a raw stopword/punctuation token would become a
        # required AND term with df=0 and silently empty the result even
        # when docs match the indexed phrase.
        live = [
            (q, " ".join(phrases[str(q)])) for q, _t in queries
            if phrases[str(q)]
        ]
        cand_rows = self.search_local(
            live, k=k, model=model, mode="and", _all_matches=True,
            cand_init=cand_restrict or None,
        )
        by_q: dict[str, list[tuple[int, float]]] = {}
        all_ids: set[int] = set()
        for qid, doc_id, score, _rank in cand_rows:
            by_q.setdefault(qid, []).append((doc_id, score))
            if qid not in nw_exact:
                all_ids.add(doc_id)
        if verify == "positions":
            from .positions import PositionsStore, phrase_match

            store = PositionsStore(self.index_dir)
            all_terms = sorted({t for p in phrases.values() for t in p})
            pos_map = store.positions_for(all_terms, sorted(all_ids))

            def matches(qid: str, doc_id: int) -> bool:
                return phrase_match(pos_map, phrases[qid], doc_id)

        else:
            texts = DocStore(self.index_dir).texts_for(sorted(all_ids))

            def matches(qid: str, doc_id: int) -> bool:
                needle = " " + " ".join(phrases[qid]) + " "
                return needle in " " + " ".join(tok(texts.get(doc_id, ""))) + " "

        out: list[tuple[str, int, float, int]] = []
        for qid, _qtext in queries:
            qid = str(qid)
            if not phrases.get(qid) or qid not in by_q:
                continue
            kept = [
                (doc_id, score)
                for doc_id, score in by_q[qid]
                if qid in nw_exact or matches(qid, doc_id)
            ]
            out.extend(
                (qid, int(doc_id), float(score), rank)
                for rank, (doc_id, score) in enumerate(
                    _merge_topk(kept, k), start=1
                )
            )
        return out


class ShardedReader:
    """Scatter-gather serving over MULTIPLE index shards, rank-identical
    to one monolithic index over the union of the shards' documents
    (asserted in tests/test_index.py).

    This is how a 10^12-doc deployment actually serves: the corpus is
    built as S independent shards (by crawl segment / time bucket), each
    a complete build_index layout with its own lineage, and a query node
    fans out to all shards and merges.  Correctness hinges on GLOBAL
    statistics: BM25's idf and length normalization use the union's
    (n_docs, avgdl, df), so each shard is scored with the global numbers
    (``stats_override``) — a document's score then depends only on its
    own postings plus global stats, which makes the merged per-shard
    top-k exactly the monolithic top-k.  Global df per term is the sum of
    the shards' dfs (doc_ids are globally unique by the deterministic id
    assignment); n/avgdl come from the exact integer ``total_len`` each
    field_stats records.  The merge uses the engine-wide quantized key
    (floor(score*1e9) desc, doc_id asc).
    """

    def __init__(self, spark: SparkSession, index_dirs: list[str]):
        if not index_dirs:
            raise ValueError("at least one shard required")
        self.readers = [IndexReader(spark, d) for d in index_dirs]
        self.n_docs = float(sum(int(r.field_stats["n_docs"]) for r in self.readers))
        total_len = sum(int(r.field_stats["total_len"]) for r in self.readers)
        self.avg_doc_len = total_len / self.n_docs
        self._global_df: dict[str, float] | None = None
        self._global_spell_index: dict[str, list[str]] | None = None

    def global_stats_for(self, terms: list[str]) -> dict[str, float]:
        dfs: dict[str, float] = {}
        for r in self.readers:
            for t, df in r.term_stats_for(terms).items():
                dfs[t] = dfs.get(t, 0.0) + df
        return dfs

    def suggest(
        self, terms: list[str], min_len: int = 3
    ) -> dict[str, tuple[str, int, float]]:
        """Spell suggestions over the UNION vocabulary with global df
        (a term's prior sums across shards) — same spec as
        IndexReader.suggest."""
        if self._global_df is None:
            merged: dict[str, float] = {}
            for r in self.readers:
                for t, df in r._vocab().items():
                    merged[t] = merged.get(t, 0.0) + df
            self._global_df = merged
            self._global_spell_index = _build_spell_index(merged)
        return _suggest_from_dict(
            terms, self._global_df, self._global_spell_index, min_len
        )

    def facet_counts_local(
        self, queries: list[tuple[str, str]], facet: str, mode: str = "or"
    ) -> list[tuple[str, str, int]]:
        """Facets across shards: doc_ids are globally unique (deterministic
        id assignment), so a doc's match membership lives in exactly one
        shard and the global facet histogram is the plain SUM of per-shard
        histograms — the same additive-merge property the global df relies
        on (for mode="and" too: a doc's conjunction membership is decided
        entirely within its own shard).  Each shard needs its own facet
        sidecar."""
        merged: dict[tuple[str, str], int] = {}
        for r in self.readers:
            for qid, value, cnt in r.facet_counts_local(queries, facet, mode):
                merged[(qid, value)] = merged.get((qid, value), 0) + cnt
        return [(q, v, c) for (q, v), c in sorted(merged.items())]

    def search_local(
        self,
        queries: list[tuple[str, str]],
        k: int = 20,
        model: str = "bm25",
        prune: bool = True,
    ) -> list[tuple[str, int, float, int]]:
        _, all_terms = _query_term_dicts(queries)
        dfs = self.global_stats_for(sorted(all_terms))
        override = (self.n_docs, self.avg_doc_len, dfs)
        per_q: dict[str, list[tuple[int, float]]] = {}
        for r in self.readers:
            for qid, doc_id, score, _rank in r.search_local(
                queries, k=k, model=model, prune=prune,
                stats_override=override,
            ):
                per_q.setdefault(qid, []).append((doc_id, score))
        out: list[tuple[str, int, float, int]] = []
        for qid, _qtext in queries:
            qid = str(qid)
            for rank, (doc_id, score) in enumerate(
                _merge_topk(per_q.get(qid, []), k), start=1
            ):
                out.append((qid, doc_id, score, rank))
        return out
