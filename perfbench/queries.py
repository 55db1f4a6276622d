"""Seeded query stream and the closed-loop clients that send it.

Terms are picked by their measured document-frequency rank in the index
being queried, never by vocabulary name: the corpus generator clips its
Zipf draws to the last vocabulary entry, so a name far down the
vocabulary (``sym1975``) can sit in nearly every document.
"""

from __future__ import annotations

import hashlib
import threading
import time
from dataclasses import dataclass, field

import numpy as np

# Zipf skew of term choice over df rank: the exponent the corpus generator
# (``corpus._doc_tokens``) draws document tokens with, so queries are as
# skewed as the text they search
ZIPF_A = 1.3
# mode and k shares, as the serving mix is specified for this benchmark
OR_SHARE = 0.6
K_SMALL_SHARE = 0.8
MID_SHARE = 0.5  # queries that carry one mid-df term
# Unmeasured assumptions, not taken from any query log: the mid-df band
# (a share of the documents) and the even 1-4 term-count split in stream().
# They set query.postings_per_query and so every query_* metric; do not
# tune the engine against them as if they were observed traffic.
MID_DF = (0.01, 0.10)


@dataclass(frozen=True)
class Query:
    terms: tuple[str, ...]
    mode: str
    k: int


class QuerySampler:
    """Query shapes: 1-4 distinct terms, OR or AND, k=10 or k=100."""

    def __init__(self, term_df: list[tuple[str, int]], n_docs: int, seed: int):
        ranked = sorted(term_df, key=lambda t: (-t[1], t[0]))
        self.terms = [t for t, _ in ranked]
        self.df = dict(ranked)
        lo, hi = MID_DF[0] * n_docs, MID_DF[1] * n_docs
        self.mid = [t for t, d in ranked if lo <= d <= hi] or self.terms
        self.rng = np.random.default_rng(seed)

    def _rank_term(self) -> str:
        while True:  # redraw past the vocabulary instead of clipping
            r = int(self.rng.zipf(ZIPF_A)) - 1
            if r < len(self.terms):
                return self.terms[r]

    def query(self, n_terms: int, mode: str, k: int) -> Query:
        rng = self.rng
        n = min(n_terms, len(self.terms))
        picked: list[str] = []
        if rng.random() < MID_SHARE:
            picked.append(self.mid[int(rng.integers(len(self.mid)))])
        while len(picked) < n:
            t = self._rank_term()
            if t not in picked:
                picked.append(t)
        return Query(tuple(picked), mode, k)

    def stream(self, n: int) -> list[Query]:
        """``n`` queries whose mix is stratified: the shares of each term
        count, mode, k and mid-df term are exact, and the term ranks are
        spread evenly over the Zipf distribution. The seed picks which
        queries land where, but every seed's stream costs about the same,
        so runs on different seeds are comparable."""
        rng = self.rng

        def shares(values, weights):
            cut = np.round(np.cumsum(weights) * n).astype(int)
            out = np.repeat(values, np.diff(np.concatenate(([0], cut))))
            return rng.permutation(out)

        sizes = shares([1, 2, 3, 4], [0.25] * 4)
        modes = shares(["or", "and"], [OR_SHARE, 1 - OR_SHARE])
        ks = shares([10, 100], [K_SMALL_SHARE, 1 - K_SMALL_SHARE])
        mids = shares([True, False], [MID_SHARE, 1 - MID_SHARE])
        n_mid = int(mids.sum())
        mid = self._even(len(self.mid), n_mid, np.ones(len(self.mid)))
        zipf = np.arange(1, len(self.terms) + 1, dtype=np.float64) ** -ZIPF_A
        ranks = iter(self._even(len(self.terms), int(sizes.sum()), zipf))
        mid_it = iter(mid)
        out = []
        for size, mode, k, has_mid in zip(sizes, modes, ks, mids):
            picked = [self.mid[next(mid_it)]] if has_mid else []
            while len(picked) < min(size, len(self.terms)):
                r = next(ranks, None)
                if r is None:  # ranks all used: fall back to a free draw
                    r = int(rng.integers(len(self.terms)))
                while self.terms[r] in picked:  # next rank down instead
                    r = (r + 1) % len(self.terms)
                picked.append(self.terms[r])
            out.append(Query(tuple(picked), str(mode), int(k)))
        return out

    def _even(self, size: int, n: int, weights: np.ndarray) -> np.ndarray:
        """``n`` indices into ``range(size)`` drawn with probability
        proportional to ``weights``, one per equal-probability stratum,
        in random order."""
        cdf = np.cumsum(weights) / weights.sum()
        u = (np.arange(n) + self.rng.random(n)) / max(n, 1)
        idx = np.minimum(np.searchsorted(cdf, u, side="right"), size - 1)
        return self.rng.permutation(idx)

    def every_shape(self, per_shape: int) -> list[Query]:
        """Each (term count, mode, k) combination of the stream."""
        return [
            self.query(n, mode, k)
            for n in (1, 2, 3, 4)
            for mode in ("or", "and")
            for k in (10, 100)
            for _ in range(per_shape)
        ]

    def postings(self, q: Query) -> int:
        return sum(self.df.get(t, 0) for t in set(q.terms))


def digest(ids: np.ndarray, scores: np.ndarray) -> bytes:
    return hashlib.blake2b(
        np.ascontiguousarray(ids, dtype=np.int64).tobytes()
        + np.ascontiguousarray(scores, dtype=np.float64).tobytes(),
        digest_size=16,
    ).digest()


@dataclass
class Samples:
    """What the clients saw: one entry per answered query."""

    latency: list[float] = field(default_factory=list)
    lookup: list[float] = field(default_factory=list)
    score: list[float] = field(default_factory=list)
    qid: list[int] = field(default_factory=list)
    answer: list[bytes] = field(default_factory=list)
    wand: int = 0
    errors: int = 0
    wall: float = 0.0
    cpu: float = 0.0  # CPU seconds, when the caller measured them

    def extend(self, other: "Samples") -> None:
        for name in ("latency", "lookup", "score", "qid", "answer"):
            getattr(self, name).extend(getattr(other, name))
        self.wand += other.wand
        self.errors += other.errors
        self.wall += other.wall
        self.cpu += other.cpu


def closed_loop(searcher, pool: list[Query], clients: int, count: int, *,
                tracer=None) -> Samples:
    """``clients`` threads each send their next query only after the last
    one returned, until ``count`` queries are sent. Queries are taken from
    ``pool`` in order, wrapping around."""
    out = Samples()
    lock = threading.Lock()
    nxt = iter(range(count))
    t_start = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            q = pool[i % len(pool)]
            t0 = time.perf_counter()
            try:
                res = searcher.search(list(q.terms), mode=q.mode, k=q.k)
            except Exception:  # a failed query is counted, not fatal
                with lock:
                    out.errors += 1
                continue
            t1 = time.perf_counter()
            ans = digest(res.doc_ids, res.scores)
            if tracer is not None:
                tracer.record("query", t0, t1, lookup=res.lookup_sec,
                              score=res.score_sec)
            with lock:
                out.latency.append(t1 - t0)
                out.lookup.append(res.lookup_sec)
                out.score.append(res.score_sec)
                out.qid.append(i % len(pool))
                out.answer.append(ans)
                out.wand += res.wand is not None

    threads = [threading.Thread(target=client, name=f"client-{c}")
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out.wall = time.perf_counter() - t_start
    return out


def tail_quantile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it, capped
    at p99."""
    return min(0.99, 1.0 - 10.0 / n) if n > 10 else 0.5


def latency_ms(values: list[float]) -> tuple[float, float, float]:
    """(p50, tail, tail quantile) in milliseconds."""
    a = np.asarray(values, dtype=np.float64) * 1000.0
    q = tail_quantile(a.size)
    return float(np.quantile(a, 0.5)), float(np.quantile(a, q)), q
