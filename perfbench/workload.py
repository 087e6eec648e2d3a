"""Seeded workload generator: a Zipf web-text corpus, query streams, and a
delta stream with one planted marker term per delta.

Self-contained on purpose: the engine receives only the generated inputs,
so an edit to the engine's own fixtures never shifts the workload.  The
same seed always yields the same corpus, queries and deltas.
"""

from __future__ import annotations

import numpy as np

ZIPF_S = 1.07
# Zipf head: English function words.  The engine's doc tokenizer drops them
# as stopwords, so they shape raw text and doc length but not the index.
HEAD_STOPWORDS = (
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "as", "was", "with", "on", "be", "by", "at", "this", "from", "or",
)
# every synthetic word starts with one of these letters, and no English
# stopword contains any of them, so no synthetic word is ever dropped
_FIRST = "jkqxz"
_CONS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"
# Query lengths 1..9, skewed short.  The mix is not fitted to a query log;
# it is picked for stable percentiles: the median and the 95th percentile
# fall inside a length class, not on the boundary of two, so a latency
# percentile does not jump from one class to the next between seeds.  Its
# mean, 3.4 terms, is longer than the 2.35-2.4 terms published web logs
# report (Silverstein et al., SIGIR Forum 1999; Spink et al., JASIST 2001),
# so the stream leans to the costlier multi-term queries.
_QLEN_P = np.array([20, 22, 20, 13, 9, 6, 4, 3, 3], dtype=float) / 100


def rng_for(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


def _query_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """n query lengths in random order, with n * _QLEN_P of each length
    (rounded by largest remainder): the same mix for every seed."""
    exact = n * _QLEN_P
    counts = np.floor(exact).astype(np.int64)
    counts[np.argsort(counts - exact)[:n - counts.sum()]] += 1
    return rng.permutation(np.repeat(np.arange(1, 10), counts))


class Corpus:
    """Vocabulary + Zipf term distribution for one seed."""

    def __init__(self, seed: int, vocab_size: int = 50_000):
        self.seed = seed
        rng = rng_for(seed, 0)
        first = [f + v for f in _FIRST for v in _VOWELS]
        rest = [c + v for c in _CONS for v in _VOWELS]
        words = list(HEAD_STOPWORDS)
        seen = set(words)
        while len(words) < vocab_size:
            n = 2 * vocab_size
            n_syl = rng.integers(2, 5, n)
            syl = rng.integers(0, len(rest), (n, 3))
            head = rng.integers(0, len(first), n)
            for i in range(n):
                w = first[head[i]] + "".join(rest[j] for j in syl[i, :n_syl[i] - 1])
                if w not in seen:
                    seen.add(w)
                    words.append(w)
                    if len(words) == vocab_size:
                        break
        self.words = np.array(words, dtype=object)
        self.n_stop = len(HEAD_STOPWORDS)
        p = np.arange(1, vocab_size + 1, dtype=float) ** -ZIPF_S
        self.cdf = np.cumsum(p) / p.sum()
        # surface forms: plain, Capitalized, trailing punctuation — all
        # tokenize to the same term
        self._forms = np.stack([
            self.words,
            np.array([w.capitalize() for w in words], dtype=object),
            np.array([w + "." for w in words], dtype=object),
        ])

    def docs(self, rng: np.random.Generator, n: int, first_id: int):
        """n docs with log-normal lengths.  Returns (doc_ids, texts,
        total_len) where total_len counts the non-stopword tokens."""
        lens = np.clip(rng.lognormal(4.4, 0.6, n).astype(np.int64), 3, 1500)
        ranks = np.searchsorted(self.cdf, rng.random(int(lens.sum())))
        forms = rng.choice(3, size=len(ranks), p=[0.9, 0.05, 0.05])
        toks = self._forms[forms, ranks]
        off = np.concatenate([[0], np.cumsum(lens)])
        texts = [" ".join(toks[off[i]:off[i + 1]]) for i in range(n)]
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        return ids, texts, int((ranks >= self.n_stop).sum())

    def _content_ranks(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """Zipf draws restricted to non-stopword ranks."""
        lo = self.cdf[self.n_stop - 1]
        return np.searchsorted(self.cdf, lo + rng.random(n) * (1.0 - lo))

    def zipf_queries(self, rng: np.random.Generator, n: int, prefix: str,
                     oov: float = 0.1, repeat: float = 0.05):
        """Query stream with Zipf term popularity, so head terms recur
        across queries: 1-9 terms, ~oov of terms out of vocabulary, and
        ~repeat of queries with a term given twice."""
        lens = _query_lengths(rng, n)
        ranks = self._content_ranks(rng, int(lens.sum()))
        is_oov = rng.random(len(ranks)) < oov
        oov_ids = rng.integers(0, 10**6, len(ranks))
        dup = rng.random(n) < repeat
        out, j = [], 0
        for i, ln in enumerate(lens):
            terms = [
                f"zq{oov_ids[j + t]:06d}" if is_oov[j + t]
                else self.words[ranks[j + t]]
                for t in range(ln)
            ]
            j += ln
            if dup[i]:
                terms.append(terms[0])
            out.append((f"{prefix}{i}", " ".join(terms)))
        return out

    def distinct_queries(self, rng: np.random.Generator, n: int, prefix: str,
                         lo: int = 200, hi: int = 40_000):
        """Query stream in which no term occurs twice, so every term is a
        decode-cache miss: terms are drawn from ranks [lo, hi) with Zipf
        weights and without replacement, so most of them still have
        postings to decode.  Same length distribution as zipf_queries."""
        lens = _query_lengths(rng, n)
        need = int(lens.sum())
        if need > hi - lo:
            raise ValueError(f"{n} distinct queries need {need} terms, "
                             f"only {hi - lo} ranks available")
        p = np.diff(self.cdf[lo - 1:hi])
        ranks = lo + rng.choice(hi - lo, need, replace=False, p=p / p.sum())
        out, j = [], 0
        for i, ln in enumerate(lens):
            out.append((f"{prefix}{i}", " ".join(self.words[ranks[j:j + ln]])))
            j += ln
        return out


def delta_docs(corpus: Corpus, cycle: int, n: int, first_id: int):
    """Delta `cycle` of the refresh stream: n new docs with appended ids;
    an out-of-vocabulary marker term (no corpus word holds a digit) is
    planted three times into one of them.  Returns
    (doc_ids, texts, total_len, marker, marker_doc_id)."""
    rng = rng_for(corpus.seed, 100 + cycle)
    ids, texts, total_len = corpus.docs(rng, n, first_id)
    pos = int(rng.integers(0, n))
    marker = f"mk{corpus.seed}x{cycle}"
    texts[pos] = f"{texts[pos]} {marker} {marker} {marker}"
    return ids, texts, total_len + 3, marker, int(ids[pos])
