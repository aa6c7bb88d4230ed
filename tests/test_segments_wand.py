"""Compressed segment build + BM25 serving: correctness vs the brute-force
oracle, one doc-ordered row per term, resumability (SURVEY.md §5 items 2,
3, 6, 7)."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickb_spark.chunking import chunk_documents
from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df
from quickb_spark.index.encode import decode_posting_list
from quickb_spark.fs import IndexFS
from quickb_spark.index.segments import (
    build_index,
    invalidate_buckets,
    load_commits,
    load_stats,
    segments_meta,
)
from quickb_spark.query.wand import bm25_topk_segments
from tests.kernel_oracles import _exact_topk, _wand_topk
from tests.oracle_bm25 import OracleIndex

N_DOCS = 250

# small blocks so hot terms' lists span many blocks
CFG = EngineConfig(
    index=IndexConfig(
        block_size=32,
        term_buckets=16,
    )
)


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("index"))


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents_df(spark, N_DOCS, seed=42, partitions=4).cache()


@pytest.fixture(scope="module")
def chunks(spark, docs):
    return chunk_documents(docs, CFG).cache()


@pytest.fixture(scope="module")
def built(spark, docs, index_dir):
    # documents path (fused chunk+tokenize kernel); the oracle below is
    # derived from the two-step chunks path, so every comparison doubles as
    # an id/posting parity check between the two input paths
    build_index(spark, index_dir=index_dir, cfg=CFG, wave_size=16, documents=docs)
    return index_dir


@pytest.fixture(scope="module")
def oracle(chunks):
    rows = chunks.select("doc_id", "text").collect()
    return OracleIndex([(r["doc_id"], r["text"]) for r in rows])


def test_stats_match_oracle(built, oracle):
    stats = load_stats(built)
    assert stats["n_docs"] == oracle.n_docs
    assert abs(stats["avgdl"] - oracle.avgdl) < 1e-9


def test_segments_decode_to_oracle_postings(spark, built, oracle):
    from quickb_spark.functions.hashing import xxhash64

    # v4 segments key posting lists by term_h; map back through the oracle
    # vocabulary (hash is injective on it — asserted by the final equality)
    inv = {xxhash64(t): t for t in oracle.postings}
    seg = spark.read.parquet(f"{built}/segments").collect()
    got: dict[str, dict[int, int]] = {}
    for r in seg:
        docs, tfs = decode_posting_list(
            r["doc_stream"], r["tf_stream"], r["df_part"], block_size=CFG.index.block_size
        )
        term = inv[int(r["term_h"])]
        # every list is far below the doc-range row threshold: one row
        # (part 0) per term, strictly doc-ordered
        assert term not in got, f"{term!r} has more than one segment row"
        assert r["part"] == 0
        assert (docs[1:] > docs[:-1]).all()
        got[term] = dict(zip(docs.tolist(), tfs.tolist()))
    expected = {
        t: {d: len(p) for d, p in pl.items()} for t, pl in oracle.postings.items()
    }
    assert got == expected
    # skew: `def` (in most python docs) spans many blocks in its one row
    assert len(got["def"]) > 4 * CFG.index.block_size


def test_segment_positions_roundtrip_to_oracle(spark, built, oracle):
    """pos_stream (map-side varbyte'd in flatten.py, concatenated by the
    encoder) must decode to the oracle's exact token positions per doc."""
    from quickb_spark.index.encode import decode_positions

    from quickb_spark.functions.hashing import xxhash64

    inv = {xxhash64(t): t for t in oracle.postings}
    seg = spark.read.parquet(f"{built}/segments").collect()
    checked = 0
    for r in seg:
        docs, tfs = decode_posting_list(
            r["doc_stream"], r["tf_stream"], r["df_part"], block_size=CFG.index.block_size
        )
        term = inv[int(r["term_h"])]
        plists = decode_positions(r["pos_stream"], tfs)
        for d, p in zip(docs.tolist(), plists):
            assert p.tolist() == oracle.postings[term][d], (term, d)
            checked += 1
    assert checked > 1000  # the corpus is non-trivial


def test_wand_matches_naive_and_oracle(spark, built, oracle):
    """The served top-k (block-max pruned kernel in docID-range tasks)
    matches the brute-force oracle rank for rank."""
    queries = fixture_queries()
    qdf = spark.createDataFrame(queries, ["query_id", "query_text"])
    wq: dict[str, list] = {}
    for r in bm25_topk_segments(spark, built, qdf, k=10).collect():
        wq.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )

    hits = 0
    for qid, qtext in queries:
        expected = oracle.topk(qtext, k=10)
        actual = sorted(wq.get(qid, []))
        assert [(r, d) for r, d, _ in actual] == [(r, d) for r, d, _ in expected], (
            qid, qtext,
        )
        for (_, _, sa), (_, _, se) in zip(actual, expected):
            assert abs(sa - se) < 1e-6
        hits += bool(expected)
    assert hits >= 40


@pytest.mark.parametrize("r_count", [2, 8, 32])
def test_range_fanout_is_exact(spark, built, r_count):
    """docID-range parallel serving must be bit-identical to the
    single-range plan (slices are decoded via the per-block byte offsets +
    absolute delta resets, then trimmed)."""
    qdf = spark.createDataFrame(fixture_queries(), ["query_id", "query_text"])
    base = sorted(
        map(tuple, bm25_topk_segments(spark, built, qdf, k=10, ranges=1).collect())
    )
    got = sorted(
        map(
            tuple,
            bm25_topk_segments(spark, built, qdf, k=10, ranges=r_count).collect(),
        )
    )
    assert got == base, r_count


def test_wand_prunes(built):
    # synthetic check that the WAND path actually skips: one strong rare
    # term + one weak common term; common-term tail must not all be scored
    rng = np.random.RandomState(0)
    common_docs = np.arange(0, 100_000, dtype=np.int64)
    rare_docs = np.arange(0, 100_000, 1000, dtype=np.int64)

    def mk(docs, tf, idf):
        tfs = np.full(len(docs), tf, dtype=np.int64)
        dls = np.full(len(docs), 100, dtype=np.int64)
        from quickb_spark.index.encode import block_meta

        last, mtf, mdl = block_meta(docs, tfs, dls, 128)
        return {
            "docs": docs,
            "tfs": tfs,
            "dls": dls,
            "idf": idf,
            "scores": idf * tfs * 2.2 / (tfs + 1.2),
            "block_last_doc": last,
            "block_max_tf": mtf,
            "block_min_dl": mdl,
        }

    terms = [mk(common_docs, 1, 0.01), mk(rare_docs, 5, 5.0)]
    ids_w, sc_w = _wand_topk(terms, 10, 1.2, 0.75, 100.0)
    ids_e, sc_e = _exact_topk(terms, 10)
    assert ids_w == ids_e
    assert np.allclose(sc_w, sc_e)


def test_resume_skips_done_buckets(spark, chunks, tmp_path):
    idx = str(tmp_path / "resume_idx")
    cfg = CFG
    build_index(spark, chunks, idx, cfg, wave_size=4)
    fs = IndexFS(idx)
    metas_before = load_commits(fs, idx)
    assert set(metas_before) == set(range(cfg.index.term_buckets))

    # simulate a crash: uncommit 3 buckets (and drop their data), keep rest
    killed = [2, 5, 11]
    invalidate_buckets(fs, idx, killed)
    for b in killed:
        shutil.rmtree(os.path.join(idx, "segments", f"bucket={b}"), ignore_errors=True)

    build_index(spark, chunks, idx, cfg, wave_size=4)  # resume

    metas_after = load_commits(fs, idx)
    for b in range(cfg.index.term_buckets):
        meta = metas_after[b]
        if b in killed:
            assert meta["committed_at"] > metas_before[b]["committed_at"]
        else:
            # finished partitions were NOT recomputed
            assert meta["committed_at"] == metas_before[b]["committed_at"]
            assert meta["build_time_ms"] == metas_before[b]["build_time_ms"]

    # resumed index is identical to a fresh one
    qdf = spark.createDataFrame(fixture_queries()[:10], ["query_id", "query_text"])
    fresh = str(tmp_path / "fresh_idx")
    build_index(spark, chunks, fresh, cfg, wave_size=16)
    a = sorted(map(tuple, bm25_topk_segments(spark, idx, qdf, k=10).collect()))
    b_ = sorted(map(tuple, bm25_topk_segments(spark, fresh, qdf, k=10).collect()))
    assert a == b_


def test_segments_meta_table(spark, built):
    meta = segments_meta(spark, built)
    assert meta.count() == CFG.index.term_buckets
    assert meta.filter(F.col("status") != "done").count() == 0
    total = meta.agg(F.sum("posting_count")).collect()[0][0]
    flat_rows = spark.read.parquet(f"{built}/flat").count()
    assert total == flat_rows


def test_format_version_fail_fast(spark, built, tmp_path):
    """Format discipline: a stats.json without the current format_version
    (none, or v5's) must be rejected by every reader (silently decoding an
    old layout would produce wrong doc_ids past the first block) and by a
    resumed build, and a flat checkpoint whose runs lack doc_len must
    refuse to resume."""
    import re

    from quickb_spark.index.segments import FORMAT_VERSION

    # current index round-trips with its version stamp
    assert load_stats(built)["format_version"] == FORMAT_VERSION

    # clone meta with the stamp stripped -> load_stats raises
    old = str(tmp_path / "old_idx")
    os.makedirs(f"{old}/meta")
    st = json.load(open(f"{built}/meta/stats.json"))
    del st["format_version"]
    json.dump(st, open(f"{old}/meta/stats.json", "w"))
    with pytest.raises(RuntimeError, match="format_version"):
        load_stats(old)

    # a v5 index (salted runs, hot_terms in stats.json) -> the rebuild
    # message, from a reader and from a resumed build
    v5 = str(tmp_path / "v5_idx")
    shutil.copytree(built, v5)
    json.dump(
        st | {"format_version": 5, "salt_buckets": 4, "hot_terms": ["def"]},
        open(f"{v5}/meta/stats.json", "w"),
    )
    for refuse in (lambda: load_stats(v5),
                   lambda: build_index(spark, index_dir=v5, cfg=CFG)):
        with pytest.raises(RuntimeError, match="rebuild the index"):
            refuse()

    # runs without doc_len -> build_index refuses resume
    legacy = str(tmp_path / "legacy_idx")
    spark.read.parquet(f"{built}/flat").drop("doc_len").write.partitionBy(
        "bucket"
    ).parquet(f"{legacy}/flat")
    with pytest.raises(RuntimeError, match=re.escape("doc_len")):
        build_index(spark, index_dir=legacy, cfg=CFG)


def test_direct_serving_prunes_buckets(spark, built, tmp_path):
    """Serving reads only the query terms' buckets, proven behaviourally:
    a poison (non-parquet) segment file planted in a bucket the query does
    not touch is never opened, while the same file in a bucket the query
    touches fails the query. No preload, so the range tasks read the
    segment files themselves — a regression here silently turns
    O(query terms) serving into O(index)."""
    from quickb_spark.functions.hashing import bucket_of
    from quickb_spark.query.searcher import Searcher

    stats = load_stats(built)
    terms = ["def", "import", "return"]
    touched = sorted({bucket_of(t, stats["term_buckets"]) for t in terms})
    untouched = [b for b in range(stats["term_buckets"]) if b not in touched]
    assert untouched, "fixture must actually prune"
    queries = [("q1", " ".join(terms))]
    want = sorted(map(tuple, Searcher(spark, built).topk(queries, k=10).collect()))
    assert want

    def poisoned(bucket):
        idx = str(tmp_path / f"poison_{bucket}")
        shutil.copytree(built, idx)
        os.makedirs(f"{idx}/segments/bucket={bucket}", exist_ok=True)
        with open(f"{idx}/segments/bucket={bucket}/poison.parquet", "wb") as f:
            f.write(b"this is not a parquet file")
        return Searcher(spark, idx)

    got = poisoned(untouched[0]).topk(queries, k=10).collect()
    assert sorted(map(tuple, got)) == want
    # control: the poison IS poisonous when its bucket is a query bucket
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        poisoned(touched[0]).topk(queries, k=10).collect()


# --------------------------------------------------------------------------
# Phrase queries (format v5 block_pos_off + direct serving path)
# --------------------------------------------------------------------------

def _phrase_queries(chunks):
    """Deterministic phrase set derived from REAL chunk text (so positives
    must match at least their source chunk) plus negative controls."""
    from quickb_spark.functions.tokenize import tokenize_py

    rows = chunks.select("text").limit(12).collect()
    queries, qi = [], 0
    for r in rows:
        toks = tokenize_py(r["text"])
        if len(toks) >= 6:
            for n in (2, 3, 4):
                queries.append((f"p{qi:02d}", " ".join(toks[2 : 2 + n])))
                qi += 1
    assert len(queries) >= 9
    # live terms in a near-certainly-never-adjacent order, and an absent term
    queries.append(("pneg_absent", "def zzqqxxnotaterm"))
    queries.append(("pneg_scrambled", "return def import class lambda yield"))
    return queries


def test_phrase_topk_matches_bruteforce_oracle(spark, built, oracle, chunks):
    from quickb_spark.query.searcher import Searcher

    queries = _phrase_queries(chunks)
    s = Searcher(spark, built)
    got: dict[str, list] = {qid: [] for qid, _ in queries}
    for r in s.topk(queries, k=10, phrase=True).collect():
        got[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    nonempty = 0
    for qid, qtext in queries:
        want = oracle.phrase_topk(qtext, 10)
        have = sorted(got[qid])
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in want], qid
        for (_, _, a), (_, _, b) in zip(have, want):
            assert abs(a - b) < 1e-6, qid
        nonempty += bool(want)
    # the corpus-derived phrases must actually retrieve something
    assert nonempty >= len(queries) - 2
    assert not got["pneg_absent"]


def test_phrase_results_identical_for_all_range_counts(spark, built, chunks):
    """Ranges partition the doc space — phrase verification + merge must be
    range-count-invariant like the scoring path (tested ∀R there)."""
    from quickb_spark.query.searcher import Searcher

    queries = _phrase_queries(chunks)[:8]
    s = Searcher(spark, built)
    want = sorted(map(tuple, s.topk(queries, k=10, phrase=True, ranges=1).collect()))
    for r_count in (2, 5, 16):
        got = sorted(
            map(tuple, s.topk(queries, k=10, phrase=True, ranges=r_count).collect())
        )
        assert got == want, r_count


def test_phrase_subset_of_unphrased_results(spark, built, chunks):
    """Every phrase hit is also a plain-BM25 candidate with the SAME score
    (phrase only restricts the result set, never changes scoring)."""
    from quickb_spark.query.searcher import Searcher

    queries = _phrase_queries(chunks)[:6]
    s = Searcher(spark, built)
    phr = s.topk(queries, k=1000, phrase=True).collect()
    plain = s.topk(queries, k=1000).collect()
    plain_scores = {(r["query_id"], r["doc_id"]): r["score"] for r in plain}
    assert phr
    for r in phr:
        key = (r["query_id"], r["doc_id"])
        assert key in plain_scores
        assert abs(plain_scores[key] - r["score"]) < 1e-12


# --------------------------------------------------------------------------
# conjunctive (match_all) serving — t6 analog on the segment engine
# --------------------------------------------------------------------------

def _conj_queries(chunks):
    """Deterministic conjunctive set from REAL chunk text (positives must
    match at least their source chunk) plus negative/edge controls."""
    from quickb_spark.functions.tokenize import tokenize_py

    rows = chunks.select("text").limit(40).collect()
    queries, qi = [], 0
    for r in rows:
        toks = tokenize_py(r["text"])
        if len(toks) >= 6 and qi < 8:
            # scrambled orders: conjunctive semantics are order-free
            queries.append((f"c{qi:02d}", " ".join(toks[4:0:-1])))
            qi += 1
    assert len(queries) >= 6
    queries.append(("cneg_absent", "def zzqqxxnotaterm"))
    queries.append(("c_single", tokenize_py(rows[0]["text"])[0]))
    return queries


def test_conjunctive_topk_matches_bruteforce_oracle(spark, built, oracle, chunks):
    from quickb_spark.query.searcher import Searcher

    queries = _conj_queries(chunks)
    s = Searcher(spark, built)
    got: dict[str, list] = {qid: [] for qid, _ in queries}
    for r in s.topk(queries, k=10, match_all=True).collect():
        got[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    nonempty = 0
    for qid, qtext in queries:
        want = oracle.conj_topk(qtext, 10)
        have = sorted(got[qid])
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in want], qid
        for (_, _, a), (_, _, b) in zip(have, want):
            assert abs(a - b) < 1e-6, qid
        nonempty += bool(want)
    assert nonempty >= len(queries) - 1
    assert not got["cneg_absent"]


def test_conjunctive_results_identical_for_all_range_counts(spark, built, chunks):
    from quickb_spark.query.searcher import Searcher

    queries = _conj_queries(chunks)[:6]
    s = Searcher(spark, built)
    want = sorted(
        map(tuple, s.topk(queries, k=10, match_all=True, ranges=1).collect())
    )
    for r_count in (2, 5, 16):
        got = sorted(
            map(tuple,
                s.topk(queries, k=10, match_all=True, ranges=r_count).collect())
        )
        assert got == want, r_count


def test_conjunctive_subset_of_any_mode_results(spark, built, chunks):
    """Every conjunctive hit is also an any-mode candidate with the SAME
    score (match_all only restricts the result set, never changes scoring);
    a single-term query is identical in both modes; phrase hits are a
    subset of conjunctive hits (adjacency implies containment)."""
    from quickb_spark.query.searcher import Searcher

    queries = _conj_queries(chunks)[:6] + [("c_single2", "def")]
    s = Searcher(spark, built)
    conj = s.topk(queries, k=1000, match_all=True).collect()
    plain = s.topk(queries, k=1000).collect()
    plain_scores = {(r["query_id"], r["doc_id"]): r["score"] for r in plain}
    assert conj
    for r in conj:
        key = (r["query_id"], r["doc_id"])
        assert key in plain_scores
        assert abs(plain_scores[key] - r["score"]) < 1e-12
    one_conj = sorted(
        (r["doc_id"], r["score"]) for r in conj if r["query_id"] == "c_single2"
    )
    one_plain = sorted(
        (r["doc_id"], r["score"]) for r in plain if r["query_id"] == "c_single2"
    )
    assert one_conj == one_plain
    # phrase ⊆ conjunctive on a shared multi-term query
    multi = [q for q in queries if len(q[1].split()) >= 2][:3]
    phr = {(r["query_id"], r["doc_id"])
           for r in s.topk(multi, k=1000, phrase=True).collect()}
    cj = {(r["query_id"], r["doc_id"])
          for r in s.topk(multi, k=1000, match_all=True).collect()}
    assert phr <= cj


def test_conjunctive_mode_guards(spark, built):
    """phrase+match_all rejected; slop validated."""
    from quickb_spark.query.searcher import Searcher

    s = Searcher(spark, built)
    with pytest.raises(ValueError, match="only one of"):
        s.topk([("q1", "def import")], phrase=True, match_all=True)
    with pytest.raises(ValueError, match="slop only applies"):
        s.topk([("q1", "def import")], slop=2)
    with pytest.raises(ValueError, match="slop must be"):
        s.topk([("q1", "def import")], phrase=True, slop=-1)


# --------------------------------------------------------------------------
# sloppy phrase (slop=N) — in-order retrieval with bounded gaps
# --------------------------------------------------------------------------

def _sloppy_queries(chunks):
    """Deterministic sloppy-phrase set from REAL chunk text: every-other
    token of a real token run matches that chunk at slop>=1 but (usually)
    not at slop=0; plus exact runs and controls."""
    from quickb_spark.functions.tokenize import tokenize_py

    rows = chunks.select("text").limit(60).collect()
    queries, qi = [], 0
    for r in rows:
        toks = tokenize_py(r["text"])
        if len(toks) >= 8 and qi < 6:
            # tokens 0,2,4: gaps of exactly 2 in the source chunk
            queries.append((f"sp{qi:02d}", " ".join(toks[0:6:2])))
            qi += 1
    assert len(queries) >= 4
    queries.append(("sp_exact", " ".join(tokenize_py(rows[0]["text"])[:4])))
    queries.append(("sp_neg", "def zzqqxxnotaterm"))
    return queries


def test_sloppy_phrase_matches_bruteforce_oracle(spark, built, oracle, chunks):
    from quickb_spark.query.searcher import Searcher

    queries = _sloppy_queries(chunks)
    s = Searcher(spark, built)
    for slop in (1, 2):
        got: dict[str, list] = {qid: [] for qid, _ in queries}
        for r in s.topk(queries, k=10, phrase=True, slop=slop).collect():
            got[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        nonempty = 0
        for qid, qtext in queries:
            want = oracle.phrase_topk(qtext, 10, slop=slop)
            have = sorted(got[qid])
            assert [(r, d) for r, d, _ in have] == [
                (r, d) for r, d, _ in want
            ], (qid, slop)
            for (_, _, a), (_, _, b) in zip(have, want):
                assert abs(a - b) < 1e-6, (qid, slop)
            nonempty += bool(want)
        assert nonempty >= len(queries) - 2
        assert not got["sp_neg"]


def test_sloppy_phrase_monotone_and_exact_at_zero(spark, built, chunks):
    """slop=0 results are byte-identical to the pre-slop exact-phrase
    path; the match set grows monotonically with slop; every sloppy hit
    is a conjunctive hit with the same score (in-order implies
    containment, and phrase never changes scoring)."""
    from quickb_spark.query.searcher import Searcher

    queries = _sloppy_queries(chunks)[:5]
    s = Searcher(spark, built)
    explicit0 = sorted(
        map(tuple, s.topk(queries, k=100, phrase=True, slop=0).collect())
    )
    default = sorted(map(tuple, s.topk(queries, k=100, phrase=True).collect()))
    assert explicit0 == default
    prev: set | None = None
    for slop in (0, 1, 3):
        hits = {
            (r["query_id"], r["doc_id"])
            for r in s.topk(queries, k=1000, phrase=True, slop=slop).collect()
        }
        if prev is not None:
            assert prev <= hits, slop
        prev = hits
    conj = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in s.topk(queries, k=1000, match_all=True).collect()
    }
    sloppy = s.topk(queries, k=1000, phrase=True, slop=3).collect()
    for r in sloppy:
        key = (r["query_id"], r["doc_id"])
        assert key in conj
        assert abs(conj[key] - r["score"]) < 1e-12


def test_sloppy_phrase_results_identical_for_all_range_counts(
    spark, built, chunks
):
    from quickb_spark.query.searcher import Searcher

    queries = _sloppy_queries(chunks)[:4]
    s = Searcher(spark, built)
    want = sorted(
        map(tuple,
            s.topk(queries, k=10, phrase=True, slop=2, ranges=1).collect())
    )
    for r_count in (3, 16):
        got = sorted(
            map(tuple,
                s.topk(queries, k=10, phrase=True, slop=2,
                       ranges=r_count).collect())
        )
        assert got == want, r_count
