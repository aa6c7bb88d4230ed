"""BM25 top-k scoring kernels for the docID-range serving tasks.

One path scores every BM25 query (query/serve_direct.py): the driver plans
R docID ranges, each range task reads its candidate segment rows, trims
them to the range, merges each term's parts into one struct
(`_build_struct`) and scores the whole batch (`_score_query_set`).

Parallel serving: docIDs are xxhash64 outputs, uniform over int64, so R
equal int64 intervals (`_range_bounds`) split every posting list ~evenly.
Each range task decodes ONLY its slices, so per-task memory is bounded by
candidate_postings/R. Ranges partition the doc space, so per-range top-k
lists merge exactly (a doc's full score is computed in exactly one range).

`_build_struct` joins a term's parts into one logical posting list. A
long list is stored as consecutive doc-range rows (index format v6), so
its parts are already doc-ordered and concatenate as they come; only the
streaming delta tier's postings, which interleave with the segment rows,
need a re-merge. Block-max metadata is recomputed on the joined arrays.
The batch kernel is `_dense_topk`: a shared sorted doc domain is built ONCE per range, each
term gets a precomputed dense index column, and every query in the batch
scores via buffered fancy-index adds into one reused accumulator. Above
AUTO_EXACT_MAX_POSTINGS candidate postings per query it first applies the
block-max segment-sweep masks (`_blockmax_masks`), which drop docID
segments whose summed block upper bounds cannot reach the running kth
score. `_conj_topk` serves AND-mode queries over the same structs.

The kernel is fuzz-compared, bit for bit and ties included, against two
oracles kept in tests/kernel_oracles.py: an exhaustive scorer and the
literature's document-at-a-time block-max WAND loop.

All pruning uses strict `< θ` so docs tying the kth score are still
evaluated — results are EXACTLY the exhaustive scorer's.

Correctness guardrails:
- upper bounds come from (max_tf, min_dl): BM25 is monotonically increasing
  in tf and decreasing in dl, so idf·S(max_tf, min_dl) bounds every doc in
  scope; block bounds are recomputed on the joined list, so a row or range
  boundary cannot break them.
- df for idf is the GLOBAL per-term df over all of a term's rows, planned
  in the driver — a range never sees a partial df.
- slices are block-aligned (supersets of the range); the range task trims
  the decoded arrays to [lo, hi] so boundary docs are scored exactly once.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from quickb_spark.config import BM25_B, BM25_K1
from quickb_spark.index.encode import block_meta

if TYPE_CHECKING:
    from quickb_spark.query.serve_direct import TopK

__all__ = ["bm25_topk_segments"]


def _bm25_vec(tf, dl, idf, k1, b, avgdl):
    tf = tf.astype(np.float64)
    norm = tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    return idf * tf * (k1 + 1.0) / norm


def _blockmax_masks(terms, k, k1, b, avgdl):
    """Lossless block-max pruning, vectorized: per-term boolean keep-masks
    over postings (None entry = keep whole term). Returns None when fewer
    than k candidate docs exist (no valid θ, nothing prunable).

      1. θ seed — per term, take its top-k posting scores' docs as
         candidates and exact-sum them across all terms (searchsorted
         lookups); the kth-largest candidate sum is a valid LOWER bound on
         the true kth-best score. θ backs off 4 ulps so a different fp
         summation order can't promote it past the exact kth score.
      2. Segment sweep — the union of all terms' block boundaries cuts the
         docID axis into segments, each covered by exactly one block per
         term; a segment's upper bound is the sum of its covering blocks'
         idf·S(block_max_tf, block_min_dl). Segments strictly below θ
         cannot hold a top-k doc.

    The pointer-chasing DAAT WAND loop gets the same pruning but pays
    Python-interpreter cost per step: >10x slower than vectorized
    scoring on multi-million-posting tasks (7.5M postings: ~1s vs ~18s,
    measured on a 4M-doc index).

    A doc is dropped from EVERY term or from none (segments are shared
    across terms), so the surviving docs' scores keep their full,
    order-identical contribution sums."""
    nt = len(terms)
    if nt == 0:
        return None

    # 1. θ seed from a strong candidate pool
    cands = []
    for t in terms:
        s = t["scores"]
        if len(s) > k:
            idx = np.argpartition(s, -k)[-k:]
        else:
            idx = np.arange(len(s))
        cands.append(t["docs"][idx])
    cand = np.unique(np.concatenate(cands))
    if len(cand) < k:
        return None
    tot = np.zeros(len(cand))
    for t in terms:
        d = t["docs"]
        pos = np.searchsorted(d, cand)
        pos_c = np.minimum(pos, len(d) - 1)
        hit = d[pos_c] == cand
        np.add.at(tot, np.nonzero(hit)[0], t["scores"][pos_c[hit]])
    theta = float(np.partition(tot, -k)[-k])
    for _ in range(4):  # back off a few ulps: prune-less is always safe
        theta = float(np.nextafter(theta, -np.inf))

    # 2. segment sweep over the union of block boundaries
    bounds = np.unique(np.concatenate([t["block_last_doc"] for t in terms]))
    seg_ub = np.zeros(len(bounds))
    for t in terms:
        bld = t["block_last_doc"]
        mtf = t["block_max_tf"].astype(np.float64)
        mdl = t["block_min_dl"].astype(np.float64)
        bub = t["idf"] * mtf * (k1 + 1.0) / (
            mtf + k1 * (1.0 - b + b * mdl / avgdl)
        )
        # bounds is a superset of bld, so no segment straddles a block
        # boundary of t: all of t's docs in segment j live in block
        # searchsorted(bld, bounds[j], "left") (or past the list's end)
        ix = np.searchsorted(bld, bounds, "left")
        valid = ix < len(bld)
        seg_ub[valid] += bub[np.minimum(ix, len(bld) - 1)][valid]
    keep_seg = seg_ub >= theta

    masks = []
    for t in terms:
        m = keep_seg[np.searchsorted(bounds, t["docs"], "left")]
        masks.append(None if m.all() else m)
    return masks


def _dense_topk(terms, k, domain, acc, prune, k1, b, avgdl):
    """Shared-domain dense accumulation: the batch scorer's fast path.

    `terms` carry a `dense` column — each posting's index into `domain`,
    the range's shared sorted docID array (built once per range);
    `acc` is a reusable float64 buffer of len(domain), zero between
    calls. Scoring is then linear passes with NO per-query sort of
    posting-sized arrays and NO per-query copies of shared posting
    arrays: `acc[t.dense] += t.scores` per term (posting lists are
    doc-unique within a term, so the buffered fancy-index add is exact),
    candidate collection, a kth-threshold cut, and a tiny survivor sort.
    This is what makes a 50-query batch cheap when every query shares
    the same Zipf-hot terms: the round-2/3 per-query
    `concatenate`+`unique(return_inverse)`+`np.add.at`+`lexsort` path
    re-materialized a hot term's slice once PER QUERY.

    With `prune` (big candidate sets), the block-max segment sweep
    (`_blockmax_masks`) drops can't-reach-θ docID segments before the
    adds — the same lossless block-max pruning, composed with the dense
    path.

    Bit-identical to the exhaustive oracle (`_exact_topk` in
    tests/kernel_oracles.py): for any doc the adds happen in the
    same order (term-major here == concatenation order there — all of
    term 0's contributions land before term 1's), fp addition is
    deterministic given order, and ties at the kth score are resolved by
    the same (score desc, doc asc) order over the exact candidate set
    (`dense` indices into a sorted domain order exactly like docIDs).
    Fuzz + tie-heavy + ∀R tests cover this."""
    if not terms:
        return [], []
    masks = _blockmax_masks(terms, k, k1, b, avgdl) if prune else None
    touched = []
    for i, t in enumerate(terms):
        m = masks[i] if masks is not None else None
        if m is None:
            idx = t["dense"]
            acc[idx] += t["scores"]
        else:
            idx = t["dense"][m]
            acc[idx] += t["scores"][m]
        touched.append(idx)
    total = sum(len(ix) for ix in touched)
    if 8 * total < len(domain):
        # sparse query in a big shared domain: sort its own indices
        cand = np.unique(np.concatenate(touched)) if total else np.empty(
            0, np.int64
        )
    else:
        # dense query: one linear scan beats sorting per-query indices,
        # and emerges already in docID order
        mark = np.zeros(len(domain), dtype=bool)
        for ix in touched:
            mark[ix] = True
        cand = np.nonzero(mark)[0]
    vals = acc[cand]  # fancy index -> copy, safe across the reset below
    for ix in touched:
        acc[ix] = 0.0
    if len(cand) == 0:
        return [], []
    if len(cand) > k:
        kth = np.partition(vals, -k)[-k]
        sel = vals >= kth
        cand, vals = cand[sel], vals[sel]
    order = np.lexsort((cand, -vals))[:k]
    return domain[cand[order]].tolist(), vals[order].tolist()


#: below this many candidate postings per (query, range) task, plain
#: accumulation wins (the θ-seed + segment sweep of `_blockmax_masks`
#: costs a few extra passes that only pay for themselves once the posting
#: volume is large enough for pruning to bite). Each task decodes only its
#: block-aligned slice, so decode cost is already bounded by the range
#: split; above the threshold, block-max pruning skips the accumulation
#: work for postings that can't reach the top k.
AUTO_EXACT_MAX_POSTINGS = 2_000_000

#: auto range split: one docID range per this many candidate postings.
RANGE_TARGET_POSTINGS = 2_000_000

#: auto-ranged plans of at most this many candidate postings are scored in
#: the driver (serve_direct.serve_topk_direct): below the crossover, the
#: range job's fixed dispatch cost exceeds what its slots save. Measured
#: on a 4-vCPU VM at 2 task slots (local[2], warm, preloaded 25k-doc
#: index; medians of 5): the driver costs ~0.015-0.03 s + 0.51 us (any
#: mode) / 0.76 us (phrase) per candidate posting; the range job
#: ~0.24 s + 0.33 / 0.49 us. 35k postings: driver 0.016 s vs job 0.24 s;
#: 394k: 0.18 vs 0.34 s (phrase 0.26 vs 0.42 s); 852k: 0.43 vs 0.51 s
#: (phrase 0.59 vs 0.70 s); 1.0M: 0.51 vs 0.57 s, but phrase 0.77 vs
#: 0.72 s. Crossovers: ~1.2M any mode, ~0.77M phrase; more task slots
#: pull both down (the job's per-posting cost falls), so the threshold
#: sits below the phrase crossover.
DRIVER_MAX_POSTINGS = 500_000
MAX_RANGES = 32


def _range_bounds(r_count: int) -> list[tuple[int, int, int]]:
    """R closed [lo, hi] intervals covering the full signed-int64 space.
    docIDs are xxhash64 outputs — uniform over int64 — so equal intervals
    split posting lists ~evenly with zero statistics."""
    out = []
    for r in range(r_count):
        lo = -(2**63) + (2**64 * r) // r_count
        hi = -(2**63) + (2**64 * (r + 1)) // r_count - 1
        out.append((r, lo, hi))
    return out


def _build_struct(parts, idf, k1, b, avgdl):
    """Join a term's range-trimmed, doc-sorted, doc-disjoint parts (its
    segment rows in row order, then any delta-tier postings) into one
    scoring struct, with block-max metadata rebuilt on the joined arrays.
    Parts in doc order are concatenated; parts that interleave (delta
    postings) are merged by a stable argsort, and `perm` maps the merged
    order back to the concatenation (None: the identity)."""
    if len(parts) == 1:
        docs, tfs, dls = parts[0]
    else:
        docs = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
    order = None
    if any(p[0][-1] >= q[0][0] for p, q in zip(parts, parts[1:])):
        order = np.argsort(docs, kind="stable")
        docs, tfs, dls = docs[order], tfs[order], dls[order]
    last_doc, max_tf, min_dl = block_meta(docs, tfs, dls, 128)
    return {
        "docs": docs,
        "tfs": tfs,
        "dls": dls,
        "idf": idf,
        "scores": _bm25_vec(tfs, dls, idf, k1, b, avgdl),
        "block_last_doc": last_doc,
        "block_max_tf": max_tf,
        "block_min_dl": min_dl,
        "perm": order,
    }


def _idf_of(term, dfs, n_docs):
    df_total = int(dfs[term])
    return float(np.log(1.0 + (n_docs - df_total + 0.5) / (df_total + 0.5)))


def _intersect(structs, terms):
    """-> (cand, idx_of): the docs holding EVERY term (sorted-array
    intersection of the terms' doc lists, smallest first) and, per
    distinct term in query order, the indices of `cand` in its struct;
    None when no doc holds them all."""
    uniq = list(dict.fromkeys(terms))
    if not uniq or any(t not in structs for t in uniq):
        return None
    base = min(uniq, key=lambda t: len(structs[t]["docs"]))
    cand = structs[base]["docs"]
    for t in uniq:
        d = structs[t]["docs"]
        if not len(d):
            return None
        pos = np.minimum(np.searchsorted(d, cand), len(d) - 1)
        cand = cand[d[pos] == cand]
        if not len(cand):
            return None
    return cand, {t: np.searchsorted(structs[t]["docs"], cand) for t in uniq}


def _sum_topk(structs, idx_of, docs, k, keep=slice(None)):
    """Top-k of `docs` = cand[keep] by the BM25 sum over `idx_of`'s terms,
    added in query order (so AND and phrase scores are fp-identical),
    ranked (score desc, doc asc) -> (doc_ids, scores) lists."""
    score = np.zeros(len(docs))
    for t, idx in idx_of.items():
        score += structs[t]["scores"][idx[keep]]
    order = np.lexsort((docs, -score))[:k]
    return docs[order].tolist(), score[order].tolist()


def _conj_topk(structs, terms, k):
    """Conjunctive (all-terms) top-k within one range: docs containing
    EVERY query term, scored with the same BM25 sum as any-mode queries,
    ranked (score desc, doc asc). Ranges partition the doc space, so
    per-range lists merge exactly."""
    hit = _intersect(structs, terms)
    if hit is None:
        return [], []
    cand, idx_of = hit
    return _sum_topk(structs, idx_of, cand, k)


def _score_query_set(structs, terms_by_query, k, k1, b, avgdl):
    """Score every query of a batch against one range's term structs with
    `_dense_topk` -> (query_ids, doc_ids, scores) column lists. The shared
    dense doc domain is built once per call."""
    domain = None  # shared dense doc domain, built on the first query
    acc = None
    out_q: list[str] = []
    out_d: list[int] = []
    out_s: list[float] = []
    for qid in sorted(terms_by_query):
        terms = [structs[t] for t in terms_by_query[qid] if t in structs]
        if not terms:
            continue
        if domain is None:
            # once per range: union doc domain + per-term dense indices
            # into it; every query then scores via buffered adds into one
            # reused accumulator (see _dense_topk)
            domain = np.unique(
                np.concatenate([s["docs"] for s in structs.values()])
            )
            for s in structs.values():
                s["dense"] = np.searchsorted(domain, s["docs"])
            acc = np.zeros(len(domain))
        total = sum(len(t["docs"]) for t in terms)
        doc_ids, scores = _dense_topk(
            terms, k, domain, acc, total > AUTO_EXACT_MAX_POSTINGS,
            k1, b, avgdl,
        )
        out_q.extend([qid] * len(doc_ids))
        out_d.extend(doc_ids)
        out_s.extend(scores)
    return out_q, out_d, out_s


def _auto_ranges(total_postings: int, parallelism: int | None = None) -> int:
    """Range fan-out for a batch: enough ranges to bound per-task decode
    memory, but not more than the cluster can use.

    Every extra range re-decodes its boundary blocks and re-runs the batch
    scorer once, so fan-out beyond available task slots is pure overhead:
    measured on a 4M-doc index at 8 cores, 16 ranges served the 50-query
    batch in 15.5s vs 19.8s at 32 and 32.5s at 128. The fan-out is therefore capped at 2x the cluster's core count
    unless the per-task memory bound (~4x RANGE_TARGET_POSTINGS postings
    per task) forces more. On a large cluster the parallelism cap is not
    binding and the work-granule term decides, exactly as before. All
    values of r return identical results (tested ∀R)."""
    ideal = -(-total_postings // RANGE_TARGET_POSTINGS)
    if parallelism:
        memory_floor = -(-total_postings // (4 * RANGE_TARGET_POSTINGS))
        ideal = min(ideal, max(2 * parallelism, memory_floor))
        # ... but never leave task slots idle: a single small query is one
        # work granule by the target above, yet splitting its decode across
        # the cluster's free slots cuts latency near-linearly (measured at
        # 2 cores on the 4M index: 1.34s at 1 range vs 0.19s at 16). Floor
        # at one range per ~64k postings so trivial lists don't fan out.
        slot_floor = min(parallelism, -(-total_postings // 65536))
        ideal = max(ideal, slot_floor)
        if ideal > parallelism:
            # full scheduling waves: a count that isn't a multiple of the
            # task slots leaves the last wave partly idle (21 ranges on 8
            # slots = waves of 8/8/5 — the batch waits on 5 tasks while 3
            # slots sit empty). Round UP to the next multiple — smaller
            # tasks, same total work, no idle tail (measured on the 4M
            # index at 8 cores: 21 -> 24 ranges cut the warm 50-query
            # batch ~10%). If the cap makes a multiple unreachable, round
            # DOWN only when that respects the memory floor.
            up = -(-ideal // parallelism) * parallelism
            if up <= MAX_RANGES:
                ideal = up
            else:
                down = (MAX_RANGES // parallelism) * parallelism
                ideal = down if down >= ideal else MAX_RANGES
    return int(max(1, min(MAX_RANGES, ideal)))


def bm25_topk_segments(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    ranges: int | str = "auto",
) -> TopK:
    """(query_id, rank, doc_id, score) rows from the compressed segment
    index, as a local `TopK` list (`.toDF()` for a DataFrame).

    ranges: docID-range fan-out per query — "auto" sizes it from the
    candidate-posting count and the cluster's parallelism (see
    _auto_ranges: one range per ~2M postings, capped at 32 and at 2x the
    available task slots) and scores a plan of at most
    DRIVER_MAX_POSTINGS candidate postings in the driver; an int forces
    a range job of that many tasks. All values return identical results
    (ranges partition the doc space; tested).

    One-shot form of quickb_spark.query.searcher.Searcher: a fresh
    Searcher per call. For repeated batches against one index keep a
    Searcher, which caches the listing and the dfs."""
    from quickb_spark.query.searcher import Searcher

    return Searcher(spark, index_dir, k1, b).topk(queries, k=k, ranges=ranges)
