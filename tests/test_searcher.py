"""Serving-path Searcher: result identity with the one-shot query path,
driver-side hashing parity, lexicon correctness, df caching, and the error
for an index filesystem pyarrow cannot list."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df
from quickb_spark.functions.hashing import bucket_of, xxhash64
from quickb_spark.index.segments import build_index
from quickb_spark.query.searcher import Searcher
from quickb_spark.query.wand import bm25_topk_segments

CFG = EngineConfig(
    index=IndexConfig(
        block_size=32,
        term_buckets=16,
    )
)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("searcher_idx"))
    docs = generate_documents_df(spark, 200, seed=7, partitions=4)
    build_index(spark, index_dir=idx, cfg=CFG, documents=docs)
    return idx


def _ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )


def test_xxhash64_matches_spark(spark):
    cases = [
        "", "a", "def", "import", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
        "v" * 100, "héllo wörld", "日本語テスト", "tab\tnew\nline",
        "0123456789abcdef" * 5,
    ]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for c in cases:
        assert xxhash64(c) == got[c], repr(c)
    # bucket_of mirrors pmod semantics (non-negative for negative hashes)
    for c in cases:
        assert 0 <= bucket_of(c, 16) < 16


def test_lexicon_matches_segment_df(spark, built):
    lex = spark.read.parquet(f"{built}/lexicon").select("term_h", "df")
    seg_df = (
        spark.read.parquet(f"{built}/segments")
        .groupBy("term_h")
        .agg(F.sum("df_part").alias("df"))
    )
    assert sorted(map(tuple, lex.collect())) == sorted(
        map(tuple, seg_df.collect())
    )


def test_searcher_identical_to_one_shot(spark, built):
    qdf = spark.createDataFrame(fixture_queries()[:8], ["query_id", "query_text"])
    want = _ranked(bm25_topk_segments(spark, built, qdf, k=10))
    s = Searcher(spark, built)
    # list input (serving form), cold df cache
    got_list = _ranked(s.topk(fixture_queries()[:8], k=10))
    # DataFrame input, warm df cache — must not change anything
    got_df = _ranked(s.topk(qdf, k=10))
    assert got_list == want
    assert got_df == want
    # forced range fan-out still identical
    assert _ranked(s.topk(fixture_queries()[:8], k=10, ranges=4)) == want


def test_searcher_absent_and_empty_queries(spark, built):
    s = Searcher(spark, built)
    assert s.topk([("q1", "zzqqxxnotaterm qqzzyy")], k=5).count() == 0
    assert s.topk([("q1", "")], k=5).count() == 0
    # negative caching: absent terms are cached as df=0
    assert s._df_cache["zzqqxxnotaterm"] == 0


def test_searcher_df_cache_short_circuits(spark, built):
    s = Searcher(spark, built)
    s.topk(fixture_queries()[:4], k=5).count()
    warm = dict(s._df_cache)
    # second call with the same queries must not add lookups
    s.topk(fixture_queries()[:4], k=5).count()
    assert s._df_cache == warm


def test_searcher_refresh_resnapshots_index(spark, tmp_path):
    """refresh() must drop every cached snapshot (stats, segment/lexicon
    file listings, df cache): after the index dir is rebuilt with a
    different corpus, a refreshed Searcher serves exactly what a brand-new
    Searcher on the new index serves."""
    import shutil

    idx = str(tmp_path / "refresh_idx")
    docs_a = generate_documents_df(spark, 120, seed=3, partitions=2)
    build_index(spark, index_dir=idx, cfg=CFG, documents=docs_a)
    s = Searcher(spark, idx)
    before = _ranked(s.topk(fixture_queries()[:6], k=10))
    old_n_docs = s.stats["n_docs"]

    shutil.rmtree(idx)
    docs_b = generate_documents_df(spark, 260, seed=11, partitions=2)
    build_index(spark, index_dir=idx, cfg=CFG, documents=docs_b)

    s.refresh()
    after = _ranked(s.topk(fixture_queries()[:6], k=10))
    want = _ranked(Searcher(spark, idx).topk(fixture_queries()[:6], k=10))
    assert after == want
    assert after != before  # the corpus actually changed under it
    assert s.stats["n_docs"] != old_n_docs  # stats re-snapshotted


def test_preload_warms_caches_and_preserves_results(spark, built):
    """preload() is the serving warm-open: it must decode every segment
    file into the worker caches (non-zero byte count on a local FS),
    positions-included when phrase serving is expected, and must not
    change any result."""
    qs = fixture_queries()[:8]
    want = _ranked(Searcher(spark, built).topk(qs, k=10))

    s = Searcher(spark, built)
    warmed = s.preload()
    assert warmed > 0  # tmp-path index is pyarrow-reachable
    # phrase warm loads the position columns too — strictly more bytes
    assert s.preload(phrase=True) > warmed
    # arena pretouch path (small: exercises the alloc/touch/free loop).
    # Tolerance, not equality: workers may now load via the host-shared
    # Arrow-IPC cache, whose buffer padding differs from a direct parquet
    # decode by a few hundred bytes (same rows, same values)
    third = s.preload(pretouch_mb=64)
    assert abs(third - warmed) <= max(64, warmed // 100)
    assert _ranked(s.topk(qs, k=10)) == want


def test_unreachable_index_fs_raises(spark, built, monkeypatch):
    """An index whose filesystem pyarrow cannot list has no serving path:
    topk and preload raise an error naming the index, never an empty or
    silently degraded result."""
    from quickb_spark import fs
    from quickb_spark.query.searcher import UnreachableIndexError

    def unreachable(*_args, **_kwargs):
        raise OSError("no pyarrow filesystem for this scheme")

    s = Searcher(spark, built)
    monkeypatch.setattr(fs, "pyarrow_fs_for", unreachable)
    with pytest.raises(UnreachableIndexError, match=re.escape(built)):
        s.topk(fixture_queries()[:4], k=5)
    with pytest.raises(UnreachableIndexError, match=re.escape(built)):
        s.preload()


def test_driver_side_lexicon_identity(spark, built):
    """load_lexicon() (the preload term dictionary) must answer every df
    lookup identically to the Spark bucket-pruned path — results, negative
    caching, and the absent-term short circuit included."""
    qs = fixture_queries()[:8]
    lazy = Searcher(spark, built)
    want = _ranked(lazy.topk(qs, k=10))

    s = Searcher(spark, built)
    assert s.load_lexicon() is True
    assert s._lex_mem is not None
    got = _ranked(s.topk(qs, k=10))
    assert got == want
    # the two paths must agree term-by-term, absent terms included
    probe = sorted(set(lazy._df_cache)) + ["zzqqxxnotaterm"]
    assert s._lookup_dfs(probe) == lazy._lookup_dfs(probe)
    assert s._df_cache["zzqqxxnotaterm"] == 0
    # a zero cap refuses the driver-side load (lazy path kept)
    s2 = Searcher(spark, built)
    assert s2.load_lexicon(max_mb=0) is False
    assert s2._lex_mem is None
    # preload() loads it implicitly
    s3 = Searcher(spark, built)
    s3.preload()
    assert s3._lex_mem is not None
    assert _ranked(s3.topk(qs, k=10)) == want
