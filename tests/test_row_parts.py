"""Doc-range rows (index format v6): a posting list longer than
p2_direct._ROW_POSTINGS is stored as consecutive, doc-ordered rows
(`part` 0, 1, ...). Here the threshold is lowered to three blocks, so the
fixture's hot terms span several rows, and every serving mode — any, AND,
phrase, sloppy phrase, the delta tier and a fold — must answer exactly
like the brute-force oracle: scores compared with ==, ties included."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from quickb_spark.chunking import chunk_documents
from quickb_spark.config import BM25_B, BM25_K1, EngineConfig, IndexConfig
from quickb_spark.corpus import DOCUMENTS_SCHEMA, fixture_queries, gen_document
from quickb_spark.functions.hashing import xxhash64
from quickb_spark.functions.tokenize import tokenize_py
from quickb_spark.index import p2_direct
from quickb_spark.index.encode import decode_posting_list
from quickb_spark.index.segments import build_index, load_stats, segments_meta
from quickb_spark.query import wand
from quickb_spark.query.searcher import Searcher
from quickb_spark.streaming.incremental import (
    fold_deltas_into_index,
    query_with_deltas,
    start_incremental_ingest,
)
from tests.oracle_bm25 import OracleIndex

BLOCK = 32
ROW = 3 * BLOCK
CFG = EngineConfig(index=IndexConfig(block_size=BLOCK, term_buckets=8))
K = 10

# 300 documents, then copies of the first 40 under new paths: the copies
# are new doc ids with the same text, so they tie their originals exactly
_ROWS = [gen_document(i, 17) for i in range(300)]
_ROWS += [(r, f"{p}.copy", c, lang, text)
          for r, p, c, lang, text in _ROWS[:40]]
# the delta tier gets 20 originals and every copy: ties across tiers
_BASE, _DELTA = _ROWS[:280], _ROWS[280:]


@pytest.fixture(scope="module", autouse=True)
def small_rows():
    with pytest.MonkeyPatch.context() as m:
        m.setattr(p2_direct, "_ROW_POSTINGS", ROW)
        yield


def _write(spark, rows, path):
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def full(spark, tmp_path_factory):
    """(index over every row, its oracle, chunk doc_id -> text)."""
    root = tmp_path_factory.mktemp("row_parts")
    corpus = _write(spark, _ROWS, str(root / "corpus"))
    idx = str(root / "idx")
    build_index(spark, index_dir=idx, cfg=CFG, corpus_uri=corpus)
    chunks = {
        r["doc_id"]: r["text"]
        for r in chunk_documents(spark.read.parquet(corpus), CFG).collect()
    }
    return idx, OracleIndex(list(chunks.items())), chunks


def _segment_rows(idx):
    """term_h -> [(part, df_part, decoded docs)] in file row order."""
    out: dict[int, list] = {}
    seg = os.path.join(idx, "segments")
    for d, _, names in os.walk(seg):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            for r in pq.read_table(os.path.join(d, n)).to_pylist():
                docs, _ = decode_posting_list(
                    r["doc_stream"], r["tf_stream"], r["df_part"],
                    block_size=BLOCK,
                )
                out.setdefault(r["term_h"], []).append(
                    (r["part"], r["df_part"], docs)
                )
    return out


def _assert_doc_range_rows(idx, oracle):
    """Every term: parts 0..m in row order, full rows of ROW postings but
    the last, rows doc-ordered and disjoint, and the rows together hold
    exactly the oracle's posting list. -> the largest row count."""
    by_h = _segment_rows(idx)
    inv = {xxhash64(t): t for t in oracle.postings}
    assert set(by_h) == set(inv)
    most = 0
    for h, rows in by_h.items():
        assert [p for p, _, _ in rows] == list(range(len(rows)))
        assert all(n == ROW for _, n, _ in rows[:-1])
        assert 0 < rows[-1][1] <= ROW
        docs = np.concatenate([d for _, _, d in rows])
        assert (docs[1:] > docs[:-1]).all(), inv[h]
        assert docs.tolist() == sorted(oracle.postings[inv[h]])
        most = max(most, len(rows))
    return most


def test_long_lists_are_consecutive_doc_range_rows(spark, full):
    idx, oracle, _ = full
    assert _assert_doc_range_rows(idx, oracle) >= 5
    assert max(oracle.df(t) for t in ("def", "return")) > 4 * ROW
    # the ledger's `salt` column holds each bucket's largest part
    parts = {r["partition_id"]: r["salt"]
             for r in segments_meta(spark, idx).collect()}
    assert max(parts.values()) >= 4
    stats = load_stats(idx)
    assert stats["format_version"] == 6
    assert stats["n_docs"] == oracle.n_docs


def test_build_struct_concatenates_ordered_parts():
    """Doc-ordered parts (a term's segment rows) are concatenated with no
    argsort (perm None); interleaved parts (delta postings beside them)
    are merged by a stable argsort, and perm maps back."""
    def part(*docs):
        d = np.array(docs, dtype=np.int64)
        return d, np.ones(len(d), np.int64), np.full(len(d), 5, np.int64)

    s = wand._build_struct([part(-9, -3), part(4, 8), part(11)], 1.0,
                           BM25_K1, BM25_B, 5.0)
    assert s["perm"] is None
    assert s["docs"].tolist() == [-9, -3, 4, 8, 11]
    s = wand._build_struct([part(-9, 8), part(-3, 4)], 1.0,
                           BM25_K1, BM25_B, 5.0)
    assert s["docs"].tolist() == [-9, -3, 4, 8]
    assert s["perm"].tolist() == [0, 2, 3, 1]


def _score(oracle, term, doc):
    """One term's BM25 contribution, the engine's formula and fp order."""
    df = oracle.df(term)
    idf = float(np.log(1.0 + (oracle.n_docs - df + 0.5) / (df + 0.5)))
    tf = float(len(oracle.postings[term][doc]))
    norm = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * oracle.doc_len[doc]
                           / oracle.avgdl)
    return idf * tf * (BM25_K1 + 1.0) / norm


def _oracle_topk(oracle, text, mode, slop=0):
    """[(doc_id, score)] ranked (score desc, doc asc). Scores add in the
    engine's term order: sorted distinct terms for any mode, query order
    for AND and phrase; the matching docs come from the oracle."""
    toks = tokenize_py(text)
    if mode == "any":
        terms = sorted({t for t in toks if t in oracle.postings})
        docs = {d for t in terms for d in oracle.postings[t]}
    else:
        terms = list(dict.fromkeys(toks))
        docs = (oracle.conj_docs(text) if mode == "and"
                else oracle.phrase_docs(text, slop=slop))
    scored = []
    for d in docs:
        total = 0.0
        for t in terms:
            if d in oracle.postings[t]:
                total += _score(oracle, t, d)
        scored.append((d, total))
    return sorted(scored, key=lambda x: (-x[1], x[0]))[:K]


def _by_query(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"],
                                                  r["score"]))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def _assert_oracle(rows, oracle, queries, mode, slop=0):
    """Engine rows == the oracle for every query; -> tied adjacent hits."""
    got = _by_query(rows)
    ties = 0
    for qid, text in queries:
        want = _oracle_topk(oracle, text, mode, slop)
        assert got.get(qid, []) == want, (qid, mode, slop)
        ties += sum(a[1] == b[1] for a, b in zip(want, want[1:]))
    return ties


def _any_queries():
    return fixture_queries()[:12] + [
        ("hot_all", "return def self value"),
        ("hot_def", "def"),
        ("hot_return", "return"),
    ]


def _phrase_queries(oracle_texts, width, step=1, cap=8):
    """Windows of `width` tokens (every `step`-th) starting at a hot term
    of real chunk text, so every phrase spans multi-row terms."""
    out = []
    for text in oracle_texts:
        toks = tokenize_py(text)
        for i, t in enumerate(toks):
            if t in ("def", "return") and i + width * step <= len(toks):
                out.append((f"w{width}s{step}_{len(out)}",
                            " ".join(toks[i:i + width * step:step])))
                break
        if len(out) == cap:
            break
    return out


@pytest.fixture(scope="module")
def texts(full):
    """Ten chunk texts holding `def`, spread over the doc space."""
    _, oracle, chunks = full
    return [chunks[d] for d in sorted(oracle.postings["def"])[:40:4]]


@pytest.mark.parametrize("ranges", ["auto", 3])
def test_every_mode_matches_oracle_over_multi_row_terms(spark, full, texts,
                                                        ranges):
    """`auto` scores in the driver; 3 runs the range job, whose ranges cut
    through the multi-row lists."""
    idx, oracle, _ = full
    s = Searcher(spark, idx)
    anyq = _any_queries()
    ties = _assert_oracle(s.topk(anyq, k=K, ranges=ranges), oracle, anyq,
                          "any")
    assert ties >= 10, "the copies must tie their originals in the top k"
    andq = anyq[12:] + _phrase_queries(texts, 3)
    _assert_oracle(s.topk(andq, k=K, match_all=True, ranges=ranges), oracle,
                   andq, "and")
    phr = _phrase_queries(texts, 2) + _phrase_queries(texts, 3)
    assert len(phr) >= 10
    _assert_oracle(s.topk(phr, k=K, phrase=True, ranges=ranges), oracle,
                   phr, "phrase")
    sloppy = _phrase_queries(texts, 3, step=2)
    assert len(sloppy) >= 4
    for slop in (1, 2):
        _assert_oracle(
            s.topk(sloppy, k=K, phrase=True, slop=slop, ranges=ranges),
            oracle, sloppy, "phrase", slop,
        )
    assert any(_by_query(s.topk(phr, k=K, phrase=True, ranges=ranges)).values())


def test_delta_and_fold_over_multi_row_terms(spark, full, texts, tmp_path):
    """A base of 280 rows plus a pending delta of 60 (20 new documents and
    40 copies of base documents): query_with_deltas, then the folded
    index, answer exactly like the oracle over all rows, and the fold
    rewrites the touched buckets as doc-range rows again."""
    full_idx, oracle, _ = full
    idx = str(tmp_path / "idx")
    build_index(spark, index_dir=idx, cfg=CFG,
                corpus_uri=_write(spark, _BASE, str(tmp_path / "base")))
    src = _write(spark, _DELTA, str(tmp_path / "delta"))
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    start_incremental_ingest(spark, stream, idx, CFG).awaitTermination(120)

    anyq = _any_queries()
    ties = _assert_oracle(query_with_deltas(spark, idx, anyq, k=K), oracle,
                          anyq, "any")
    assert ties >= 10
    assert fold_deltas_into_index(spark, idx, CFG) > 0
    assert load_stats(idx) == load_stats(full_idx)
    _assert_doc_range_rows(idx, oracle)
    s = Searcher(spark, idx)
    _assert_oracle(s.topk(anyq, k=K), oracle, anyq, "any")
    phr = _phrase_queries(texts, 3)
    _assert_oracle(s.topk(phr, k=K, phrase=True, ranges=3), oracle, phr,
                   "phrase")
