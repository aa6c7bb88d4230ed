"""Reference top-k kernels the serving kernel is fuzz-compared against.

The engine scores every BM25 query with one kernel (quickb_spark.query.wand
`_dense_topk`, with the `_blockmax_masks` pruning above a size threshold).
These two are its oracles, kept here and nowhere in the engine:

- `_exact_topk` — vectorized exhaustive accumulation over the concatenated
  postings: the no-pruning definition of the answer.
- `_wand_topk` — classic document-at-a-time block-max WAND (Broder et al.;
  Ding & Suel's block-max refinement): a pivot is the first term, in
  current-docID order, at which accumulated upper bounds reach θ;
  everything before it is skipped via searchsorted jumps, and a
  block-level upper-bound check skips whole blocks. The literature
  algorithm, per-step Python cost and all.

Both take `terms` as the scorer's structs ({docs, tfs, dls, idf, scores,
block_last_doc, block_max_tf, block_min_dl}) and return (doc_ids, scores)
ranked (score desc, doc_id asc).
"""

from __future__ import annotations

import heapq

import numpy as np


def _exact_topk(terms, k):
    """Vectorized exhaustive DAAT (verification / no-prune path)."""
    if not terms:
        return [], []
    docs = np.concatenate([t["docs"] for t in terms])
    scores = np.concatenate([t["scores"] for t in terms])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq))
    np.add.at(acc, inv, scores)
    order = np.lexsort((uniq, -acc))[:k]
    return uniq[order].tolist(), acc[order].tolist()


def _wand_topk(terms, k, k1, b, avgdl):
    """Block-max WAND. terms: [{docs, tfs, dls, idf, blocks...}]."""
    nt = len(terms)
    if nt == 0:
        return [], []
    ptr = [0] * nt
    lens = [len(t["docs"]) for t in terms]
    # global upper bound per term
    ub = []
    for t in terms:
        mtf = float(t["tfs"].max())
        mdl = float(t["dls"].min())
        ub.append(
            t["idf"] * mtf * (k1 + 1.0) / (mtf + k1 * (1.0 - b + b * mdl / avgdl))
        )
    heap: list[float] = []  # min-heap of top-k scores (θ = heap[0])
    results: dict[int, float] = {}

    def theta():
        return heap[0] if len(heap) == k else -np.inf

    while True:
        active = [t for t in range(nt) if ptr[t] < lens[t]]
        if not active:
            break
        active.sort(key=lambda t: terms[t]["docs"][ptr[t]])
        acc = 0.0
        pivot_i = None
        for i, t in enumerate(active):
            acc += ub[t]
            if acc >= theta():
                pivot_i = i
                break
        if pivot_i is None:
            break  # no doc can reach θ anymore
        pivot_t = active[pivot_i]
        pivot_doc = int(terms[pivot_t]["docs"][ptr[pivot_t]])
        # extend the prefix over ties: every term currently AT pivot_doc can
        # contribute to its score and must be inside the pruning bound
        while (
            pivot_i + 1 < len(active)
            and int(terms[active[pivot_i + 1]]["docs"][ptr[active[pivot_i + 1]]])
            == pivot_doc
        ):
            pivot_i += 1

        # block-max refinement (Ding & Suel BMW): bound the pivot-prefix
        # contribution by the block maxima at pivot_doc
        block_acc = 0.0
        # min_block_end must stay an exact int: doc ids use up to 63 bits
        # and float64 rounding of an id can land BELOW the pivot, turning
        # the skip into a no-op (infinite loop)
        min_block_end: int | None = None
        for t in active[: pivot_i + 1]:
            td = terms[t]
            bidx = int(np.searchsorted(td["block_last_doc"], pivot_doc))
            if bidx >= len(td["block_last_doc"]):
                # this term's list ends before pivot_doc: it contributes
                # nothing at or beyond the pivot, and imposes no skip bound
                continue
            mtf = float(td["block_max_tf"][bidx])
            mdl = float(td["block_min_dl"][bidx])
            block_acc += (
                td["idf"] * mtf * (k1 + 1.0) / (mtf + k1 * (1.0 - b + b * mdl / avgdl))
            )
            bend = int(td["block_last_doc"][bidx])
            min_block_end = bend if min_block_end is None else min(min_block_end, bend)
        if block_acc < theta():
            # no doc in [pivot_doc, min_block_end] can reach θ from the
            # prefix alone; docs beyond the next non-prefix cursor may gain
            # other contributions, so never skip past that cursor
            skip_to = min_block_end + 1
            if pivot_i + 1 < len(active):
                nxt = active[pivot_i + 1]
                skip_to = min(skip_to, int(terms[nxt]["docs"][ptr[nxt]]))
            for t in active[: pivot_i + 1]:
                td = terms[t]
                ptr[t] = int(np.searchsorted(td["docs"], skip_to))
            continue

        first_doc = int(terms[active[0]]["docs"][ptr[active[0]]])
        if first_doc == pivot_doc:
            # all prefix terms aligned on pivot_doc: evaluate it fully
            s = 0.0
            for t in active:
                td = terms[t]
                p = ptr[t]
                if p < lens[t] and td["docs"][p] == pivot_doc:
                    s += float(td["scores"][p])
                    ptr[t] = p + 1
            results[pivot_doc] = s
            if len(heap) < k:
                heapq.heappush(heap, s)
            elif s > heap[0]:
                heapq.heapreplace(heap, s)
        else:
            # advance the lagging term with the largest ub (fewest future
            # evaluations) up to pivot_doc
            lagging = [
                t
                for t in active[: pivot_i + 1]
                if int(terms[t]["docs"][ptr[t]]) < pivot_doc
            ]
            lag = max(lagging, key=lambda t: ub[t])
            ptr[lag] = int(np.searchsorted(terms[lag]["docs"], pivot_doc))

    if not results:
        return [], []
    uniq = np.array(list(results.keys()), dtype=np.int64)
    acc = np.array(list(results.values()))
    order = np.lexsort((uniq, -acc))[:k]
    return uniq[order].tolist(), acc[order].tolist()
