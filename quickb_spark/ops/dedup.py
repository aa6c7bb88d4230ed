"""Deduplication operators for large-scale training-data pipelines.

The reference deduplicates twice: exact text equality before LLM fan-out
(reference src/main.py:313-321) and embedding-cosine near-dup among generated
questions (reference src/synth_dataset/deduplicator.py:11-79, an O(n²)
in-memory similarity matrix). Re-expressed here as distributed operators:

- exact:          hash-groupBy on a content digest (maps A1/A2/U2)
- minhash LSH:    shingle → k md5-min signatures → banded bucket join —
                  candidate pairs without the O(n²) all-pairs matrix
- n-gram Jaccard: exact Jaccard over distinct shingles via a shingle-keyed
                  self-join (verification stage after LSH candidates)
- simhash:        64-bit simhash via vectorized NumPy bit-count kernel

Portability note: hash primitives are md5-hex (not xxhash) so every operator
has a bit-identical ANSI-SQL oracle (DuckDB `md5`) — the driver's correctness
gate compares them value-for-value. Lexicographic MIN over hex digests is a
uniform min-hash; no hex→int conversion needed anywhere.

Scale notes: the LSH band join shuffles one row per (doc, band) — b rows per
doc — and only collides true candidates; exact Jaccard runs on the candidate
set, never all pairs. Common-shingle skew is bounded by dropping shingles
with document frequency above `max_shingle_df` (stopword-shingles carry no
dedup signal but quadratic join cost).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from quickb_spark.functions.tokenize import tokens_col

__all__ = [
    "exact_dup_groups",
    "shingles_col",
    "minhash_signatures",
    "minhash_signatures_xxhash64",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "simhash_py",
    "simhash_col",
    "connected_components",
    "greedy_keep_first",
    "embedding_near_dup_pairs",
    "embedding_near_dup_keep",
]


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical texts: (content_md5, n_dups, keep_id) — keep-first
    policy is keep-min-id (deterministic analog of the reference's
    keep-first-occurrence, src/synth_dataset/deduplicator.py:19-36)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def shingles_col(text_col: Column | str, n: int = 3) -> Column:
    """array<string> of word n-gram shingles over the engine tokenizer."""
    toks = tokens_col(text_col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + 1 + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{k-1}): k independent min-hashes per document.

    h_i(doc) = lexicographic MIN over shingles s of md5(i || ':' || s).
    Documents with no shingles are dropped (nothing to compare).
    Computation is one explode + one hash-agg — partial aggregation makes the
    shuffle carry k strings per doc, not per shingle.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text_col, shingle_n)).alias("shingle")
    ).distinct()
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures_xxhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Production minhash variant: h_i(doc) = MIN over shingles of
    xxhash64(i, shingle) — int64 min-hashes, JVM-side, 8 bytes each on the
    shuffle instead of md5's 32-char hex strings (4x less exchange traffic
    and no string comparisons in the partial agg). Same signature/banding
    contract as `minhash_signatures`, drop-in for `lsh_candidate_pairs`.

    The md5 variant stays the GATE implementation because DuckDB cannot
    compute xxhash64, and the correctness harness demands a bit-identical
    SQL oracle; equivalence of the two variants' LSH behavior is asserted
    in tests/test_dedup.py.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text_col, shingle_n)).alias("shingle")
    ).distinct()
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    -> distinct (id_a, id_b) with id_a < id_b. The join key is
    (band_id, band_hash), so only true bucket collisions shuffle together.
    """
    bands = []
    for b in range(num_hashes // band_rows):
        cols = [f"h{b * band_rows + r}" for r in range(band_rows)]
        bands.append(
            signatures.select(
                F.col(id_col),
                F.lit(b).alias("band_id"),
                F.concat_ws("|", *cols).alias("band_hash"),
            )
        )
    allb = bands[0]
    for b in bands[1:]:
        allb = allb.unionByName(b)
    left = allb.select(
        "band_id", "band_hash", F.col(id_col).alias("id_a")
    )
    right = allb.select(
        "band_id", "band_hash", F.col(id_col).alias("id_b")
    )
    return (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 10_000,
    hash_to_int64: bool = True,
    persist: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    -> (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    Skew guard: shingles occurring in more than max_shingle_df docs are
    excluded from the pair join (they would create quadratic blowup while
    carrying no discriminative signal); sizes still count all shingles.

    Scale shape: shingle strings are hashed to int64 (xxhash64) BEFORE any
    shuffle — set sizes, intersections, and the self-join only need
    equality, so every exchange carries 8 bytes instead of a ~25-char
    string (collision odds over a 10^9-shingle vocabulary are ~1e-2 per
    CORPUS under the birthday bound, and a single collision perturbs one
    intersection count by 1 — immaterial for dedup). The distinct
    (id, shingle) set feeds three aggregations, but it is NOT persisted:
    all three consumers sit in one plan, so Catalyst reuses the
    explode+distinct exchange (ReusedExchange) without materializing a
    cache — the controlled A/B (sf0.1, interleaved best-of-3) measured hash-only 11.6s vs hash+persist 14.6s vs
    neither 12.6s; persist only adds a cache write+read pass on top of
    the shuffle files Spark already keeps.
    """
    from pyspark import StorageLevel

    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(text_col, shingle_n)).alias("_s"),
    )
    # hash_to_int64/persist toggles exist for controlled A/B measurement;
    # production keeps both on
    if hash_to_int64:
        sh = sh.select("id", F.xxhash64("_s").alias("shingle"))
    else:
        sh = sh.withColumnRenamed("_s", "shingle")
    sh = sh.distinct()
    if persist:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    joinable = sh
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("sdf"))
            .filter(F.col("sdf") <= max_shingle_df)
            .select("shingle")
        )
        joinable = sh.join(rare, "shingle")
    inter = (
        joinable.select(F.col("id").alias("id_a"), "shingle")
        .join(joinable.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """(id, comp) for every id appearing in the undirected edge set
    (id_a, id_b); comp is the component's minimum id.

    Min-label propagation PLUS a pointer-doubling shortcut each round
    (comp <- comp-of-comp), so convergence is O(log diameter) — long
    near-dup chains (exactly what boilerplate clusters produce) converge in
    a handful of rounds instead of one hop per round. Driver-side
    convergence check each round; raises if the hard iteration cap is hit
    rather than silently returning unconverged labels (which would make
    greedy_keep_first split one component across groups and emit
    conflicting verdicts). 2^50 exceeds any physical diameter.
    """
    edges = pairs.select("id_a", "id_b").distinct()
    labels = (
        edges.select(F.col("id_a").alias("id"))
        .unionByName(edges.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        e2 = (
            edges.join(
                labels.select(F.col("id").alias("id_a"), F.col("comp").alias("ca")),
                "id_a",
            ).join(
                labels.select(F.col("id").alias("id_b"), F.col("comp").alias("cb")),
                "id_b",
            )
        )
        cand = (
            e2.select(F.col("id_a").alias("id"), F.least("ca", "cb").alias("cand"))
            .unionByName(
                e2.select(F.col("id_b").alias("id"), F.least("ca", "cb").alias("cand"))
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        hop = labels.join(cand, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("cand", F.col("comp"))).alias("comp"),
            F.col("comp").alias("_old"),
        )
        # pointer doubling: comp is always the id of some labelled node, so
        # jump to that node's label (comp-of-comp) — labels are monotone
        # non-increasing, making the jump always valid and halving the
        # remaining chain length each round
        new_labels = (
            hop.join(
                labels.select(
                    F.col("id").alias("comp"), F.col("comp").alias("_cc")
                ),
                "comp",
            )
            .select(
                "id",
                F.least("comp", "_cc").alias("comp"),
                (F.col("_old") != F.least("comp", "_cc")).cast("int").alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = new_labels.drop("_chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations — "
        "with pointer doubling this implies component diameter > "
        f"2^{max_iter}; the edge set is likely inconsistent"
    )


def greedy_keep_first(
    pairs: DataFrame, max_component_edges: int = 1_000_000
) -> DataFrame:
    """Reference-exact greedy near-dup filter, distributed.

    The reference walks items in order and drops an item iff it is similar
    to an already-KEPT earlier item (src/synth_dataset/deduplicator.py:19-36
    — note: similar to a DROPPED item does not drop you, so this is NOT
    connected-component dedup). Distributed shape: similarity edges only
    connect items within a connected component, so the sequential walk is
    run independently per component in applyInPandas — exact semantics.
    Order is ascending id, the engine's deterministic analog of
    first-occurrence (same convention as exact_dup_groups' keep-min-id).

    GIANT-COMPONENT GUARD: near-dup clusters are tiny for organic text, but
    web-scale boilerplate/license clusters can reach millions of docs — a
    single such component would funnel into one Python task with an
    O(|C|·|kept|) loop. Components with more than `max_component_edges`
    edges therefore fall back to deterministic keep-min-id (keep exactly
    the component's minimum id, drop the rest) — declarative, no Python
    task. For a dense near-clique (which is what a giant boilerplate
    cluster is), greedy-keep-first itself degenerates to keep-min-id, so
    the fallback matches the exact semantics precisely where it engages.

    pairs: (id_a, id_b) similar pairs with id_a < id_b.
    -> (id, keep boolean) for every id in the pair graph; ids with no
    similar pair are trivially kept and don't appear (left-join and
    coalesce(keep, true) on the caller side).
    """
    comp = connected_components(pairs)
    p = pairs.join(
        comp.select(F.col("id").alias("id_a"), "comp"), "id_a"
    ).select("comp", "id_a", "id_b")
    # one row per component — can itself be huge at corpus scale, so no
    # broadcast hint: a plain comp-keyed join (AQE picks the strategy)
    sizes = p.groupBy("comp").agg(F.count(F.lit(1)).alias("_n_edges"))
    p = p.join(sizes, "comp")
    small = p.filter(F.col("_n_edges") <= max_component_edges).drop("_n_edges")
    giant = p.filter(F.col("_n_edges") > max_component_edges)

    def walk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = sorted(set(pdf["id_a"]) | set(pdf["id_b"]))
        adj = set(zip(pdf["id_a"], pdf["id_b"]))
        kept: list[int] = []
        out = []
        for i in ids:
            drop = any(
                ((j, i) if j < i else (i, j)) in adj for j in kept
            )
            if drop:
                out.append((i, False))
            else:
                kept.append(i)
                out.append((i, True))
        return pd.DataFrame(out, columns=["id", "keep"])

    verdicts = small.groupBy("comp").applyInPandas(walk, "id long, keep boolean")
    # comp IS the component's minimum id, so keep-min-id is (id == comp)
    giant_verdicts = (
        giant.select(
            "comp", F.explode(F.array("id_a", "id_b")).alias("id")
        )
        .distinct()
        .select("id", (F.col("id") == F.col("comp")).alias("keep"))
    )
    return verdicts.unionByName(giant_verdicts)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    n_planes: int = 12,
    n_probes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate candidate pairs WITHOUT the O(n^2)
    all-pairs matrix the reference builds (deduplicator.py:38-52):
    random-hyperplane LSH buckets the corpus; multi-probe (each vector also
    probes the buckets one sign-flip away, least-|margin| planes first — a
    near-dup that hashed elsewhere most likely differs on the plane this
    vector is closest to) recovers pairs that straddle a hyperplane; exact
    JVM-side cosine then verifies every candidate.

    -> (id_a, id_b, cos) with id_a < id_b and cos >= threshold.
    """
    from quickb_spark.functions.rounding import grid4
    from quickb_spark.ops.similarity import (
        cosine_col,
        hyperplane_bucket_udf,
        hyperplane_probes_udf,
    )

    bucket = hyperplane_bucket_udf(dim, n_planes, seed)
    probes = hyperplane_probes_udf(dim, n_planes, n_probes, seed)
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    left = src.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.explode(probes(F.col("_v"))).alias("_bucket"),
    )
    right = src.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        bucket(F.col("_v")).alias("_bucket"),
    )
    return (
        left.join(right, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            grid4(cosine_col(F.col("_va"), F.col("_vb"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def embedding_near_dup_keep(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    **lsh_kwargs,
) -> DataFrame:
    """(id, keep): reference-greedy embedding dedup over the whole table —
    ids untouched by any near-dup pair are kept by construction."""
    pairs = embedding_near_dup_pairs(
        df, id_col, vec_col, dim=dim, threshold=threshold, **lsh_kwargs
    )
    verdicts = greedy_keep_first(pairs)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(verdicts, "id", "left")
        .select("id", F.coalesce("keep", F.lit(True)).alias("keep"))
    )


def simhash_py(text: str | None) -> int:
    """Pure-Python/NumPy simhash of one text — the oracle AND the kernel.

    Per token: 64 hash bits from md5(token); per document: sign of the
    tf-weighted bit sums, packed big-endian into a signed int64.
    """
    import hashlib

    from quickb_spark.functions.tokenize import tokenize_py

    if not text:
        return 0
    toks = tokenize_py(text)
    if not toks:
        return 0
    vals, counts = np.unique(toks, return_counts=True)
    digests = np.frombuffer(
        b"".join(hashlib.md5(v.encode()).digest()[:8] for v in vals),
        dtype=np.uint8,
    ).reshape(len(vals), 8)
    bits_mat = np.unpackbits(digests, axis=1).astype(np.int64)  # (v, 64)
    acc = ((2 * bits_mat - 1) * counts[:, None]).sum(axis=0)
    bitvec = (acc > 0).astype(np.uint8)
    return int(
        np.int64(int.from_bytes(np.packbits(bitvec).tobytes(), "big", signed=True))
    )


def simhash_col(text_col: Column | str = "text", bits: int = 64):
    """64-bit simhash as a vectorized pandas UDF (no SQL oracle — verified
    bit-identical to simhash_py in tests/test_dedup.py).

    Scale shape: tokens repeat heavily across a corpus (Zipf), so each
    Python worker keeps a token -> ±1-bit-row cache across Arrow batches and
    md5-hashes each distinct vocabulary token ONCE per worker — not once per
    (doc, token) occurrence, which at 100x scale would be billions of Python
    hashlib calls. Per document the signature is one cached-matrix gather +
    tf-weighted column sum.
    """
    import hashlib

    from quickb_spark.functions.tokenize import tokenize_py

    # task-lifetime vocabulary cache: token -> (64,) ±1 sign row. Persists
    # across Arrow batches within a task, so each distinct token is hashed
    # once, not once per occurrence.
    cache: dict[str, np.ndarray] = {}

    def _sign_rows(vals: np.ndarray) -> np.ndarray:
        rows = []
        for v in vals:
            r = cache.get(v)
            if r is None:
                d = np.frombuffer(hashlib.md5(v.encode()).digest()[:8], np.uint8)
                r = 2 * np.unpackbits(d).astype(np.int64) - 1
                cache[v] = r
            rows.append(r)
        return np.stack(rows)

    @F.pandas_udf(LongType())
    def _simhash(text: pd.Series) -> pd.Series:
        out = np.zeros(len(text), dtype=np.int64)
        for row, t in enumerate(text):
            if not t:
                continue
            toks = tokenize_py(t)
            if not toks:
                continue
            vals, counts = np.unique(toks, return_counts=True)
            mat = _sign_rows(vals)  # (v, 64) of ±1
            bitvec = ((counts[:, None] * mat).sum(axis=0) > 0).astype(np.uint8)
            out[row] = np.int64(
                int.from_bytes(np.packbits(bitvec).tobytes(), "big", signed=True)
            )
        return pd.Series(out)

    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return _simhash(col)
