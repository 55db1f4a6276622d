"""Block-max WAND top-k disjunctive evaluation over decoded posting lists.

Public algorithm: Broder et al., "Efficient query evaluation using a
two-level retrieval process" (CIKM 2003, WAND) + Ding & Suel, "Faster top-k
document retrieval using block-max indexes" (SIGIR 2011, BMW). The reference
gets this from Lucene (`WANDScorer`); ours is from scratch.

Correctness contract (rank-identical scores vs the pandas oracle):
* exact score of a doc = sum over matching query terms, accumulated in
  ascending lexicographic term order, float64 — the same fold order the
  oracle uses, so scores are bit-identical;
* docs are evaluated in strictly ascending doc_id order, so score ties
  resolve toward the smaller doc_id by keeping the incumbent heap entry;
* a pivot doc is skipped iff its upper bound <= current k-th score, which
  can only drop docs that would lose (or tie-lose on doc_id).

Pruning effectiveness is observable: ``blocks_skipped`` / ``docs_skipped``
counters are asserted non-trivial in tests (FIXTURES.md §4 requires the
pruning path to demonstrably prune, not be a no-op).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import numpy as np


@dataclass
class TermPostings:
    """Decoded, doc_id-sorted postings for one query term (salt-merged)."""

    term: str
    doc_ids: np.ndarray  # uint64, ascending
    weights: np.ndarray  # float64 = idf * impact (exact per-doc score part)
    block_last: np.ndarray  # uint64: last doc_id of each block
    block_ub: np.ndarray  # float64: idf * block-max impact
    max_ub: float = field(init=False)

    def __post_init__(self) -> None:
        self.max_ub = float(self.block_ub.max()) if self.block_ub.size else 0.0

    @property
    def n(self) -> int:
        return int(self.doc_ids.size)


@dataclass
class WandStats:
    docs_evaluated: int = 0
    docs_skipped: int = 0
    blocks_skipped: int = 0
    pivots: int = 0


def wand_topk(
    postings: list[TermPostings], k: int
) -> tuple[np.ndarray, np.ndarray, WandStats]:
    """Top-k disjunctive BM25: returns (doc_ids, scores) ordered by
    (score DESC, doc_id ASC), plus pruning counters."""
    stats = WandStats()
    lists = [p for p in postings if p.n > 0]
    if not lists or k <= 0:
        return np.empty(0, np.uint64), np.empty(0, np.float64), stats
    # fixed fold order for exact float reproducibility vs the oracle
    lex_rank = {p.term: r for r, p in enumerate(sorted(lists, key=lambda p: p.term))}

    nlists = len(lists)
    cursors = [0] * nlists
    exhausted = [False] * nlists
    heap: list[tuple[float, int]] = []  # (score, -doc_id); heap[0] = weakest
    theta = -np.inf

    def cur_doc(i: int) -> int:
        return int(lists[i].doc_ids[cursors[i]])

    # np.uint64 targets: a Python int promotes the uint64 list to float64,
    # a copy per call that misplaces cursors on doc_ids >= 2**53
    def advance_to(i: int, target: int) -> None:
        p = lists[i]
        newpos = int(np.searchsorted(p.doc_ids, np.uint64(target)))
        if newpos > cursors[i]:
            stats.docs_skipped += newpos - cursors[i]
            cursors[i] = newpos
        if cursors[i] >= p.n:
            exhausted[i] = True

    while True:
        live = [i for i in range(nlists) if not exhausted[i]]
        if not live:
            break
        live.sort(key=cur_doc)

        # ---- WAND pivot: smallest prefix whose summed max_ub beats theta
        acc = 0.0
        pivot_idx = -1
        for j, i in enumerate(live):
            acc += lists[i].max_ub
            if len(heap) < k or acc > theta:
                pivot_idx = j
                break
        if pivot_idx < 0:
            break  # nothing left can beat theta
        stats.pivots += 1
        pivot_doc = cur_doc(live[pivot_idx])

        # prefix = every live list whose current doc <= pivot_doc (includes
        # equal-doc lists beyond the pivot index — they contribute to the doc)
        prefix_end = pivot_idx + 1
        while prefix_end < len(live) and cur_doc(live[prefix_end]) == pivot_doc:
            prefix_end += 1
        prefix = live[:prefix_end]
        rest = live[prefix_end:]

        # ---- block-max refinement (BMW): tighter bound at pivot_doc
        block_ub_sum = 0.0
        boundary = None  # min over prefix of current-block end + 1
        for i in prefix:
            p = lists[i]
            b = int(np.searchsorted(p.block_last, np.uint64(pivot_doc)))
            if b < p.block_ub.size:
                block_ub_sum += float(p.block_ub[b])
                end = int(p.block_last[b]) + 1
                boundary = end if boundary is None else min(boundary, end)
        if len(heap) >= k and block_ub_sum <= theta:
            # no doc inside the current blocks can beat theta; jump to the
            # nearest of (block boundary, first non-prefix list's doc)
            stats.blocks_skipped += 1
            next_doc = boundary if boundary is not None else pivot_doc + 1
            if rest:
                next_doc = min(next_doc, cur_doc(rest[0]))
            if next_doc <= pivot_doc:
                next_doc = pivot_doc + 1
            for i in prefix:
                advance_to(i, next_doc)
            continue

        if all(cur_doc(i) == pivot_doc for i in prefix):
            # aligned: evaluate pivot_doc exactly (fold in lex term order)
            stats.docs_evaluated += 1
            matched: list[tuple[int, float]] = []
            for i in prefix:
                p = lists[i]
                matched.append((lex_rank[p.term], float(p.weights[cursors[i]])))
                cursors[i] += 1
                if cursors[i] >= p.n:
                    exhausted[i] = True
            matched.sort()
            score = 0.0
            for _, w in matched:
                score += w
            entry = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
                if len(heap) == k:
                    theta = heap[0][0]
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
                theta = heap[0][0]
        else:
            # lagging lists catch up to pivot_doc
            for i in prefix:
                if cur_doc(i) < pivot_doc:
                    advance_to(i, pivot_doc)

    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    ids = np.array([-d for _, d in out], dtype=np.uint64)
    scores = np.array([s for s, _ in out], dtype=np.float64)
    return ids, scores, stats


def topk_by_score(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shared top-k selection for every vectorized scorer (exhaustive_or,
    _and_score, _dense_topk): O(n) partition to the k-th score keeping
    ties, then a lexsort of only the boundary set settles (score DESC,
    doc_id ASC) — a full lexsort of ~1M survivors for k=10 owned half the
    sorted-path AND time. One definition so tie semantics can't diverge
    between scorers."""
    if ids.size > k:
        neg = -scores
        kth = np.partition(neg, k - 1)[k - 1]
        sel = neg <= kth
        ids, scores = ids[sel], scores[sel]
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def exhaustive_or(
    postings: list[TermPostings], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Reference-path exhaustive disjunctive scorer (no pruning), used to
    cross-check WAND in tests. Same fold order -> bit-identical scores."""
    lists = sorted([p for p in postings if p.n > 0], key=lambda p: p.term)
    if not lists:
        return np.empty(0, np.uint64), np.empty(0, np.float64)
    all_ids = np.unique(np.concatenate([p.doc_ids for p in lists]))
    scores = np.zeros(all_ids.size, dtype=np.float64)
    for p in lists:  # lex order fold, matching wand_topk/oracle
        pos = np.searchsorted(all_ids, p.doc_ids)
        scores[pos] += p.weights
    return topk_by_score(all_ids, scores, k)
