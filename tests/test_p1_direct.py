"""The build engine: bit-identity of its hashes + input-shape equivalence.

Phase 1 (index/p1_direct.py) mints doc_ids and term hashes in Python; chunking.udf.chunk_documents mints doc ids with the JVM
expression xxhash64(repo, path, commit, chunk_idx). These tests pin (a)
bit-identity of every hash the two share with the JVM expressions, and
(b) full index equivalence — stats, doc stats, lexicon, decoded posting
lists, positions, query results and segment/lexicon file bytes — between
an index built via `build_index(corpus_uri=...)` (documents read in place)
and one built via `build_index(chunks=chunk_documents(...))` over the same
documents (JVM-minted doc ids, pre-chunked rows staged and read by the
same phase-1 tasks).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickb_spark.chunking.udf import chunk_documents
from quickb_spark.config import EngineConfig, IndexConfig
from quickb_spark.corpus import fixture_queries, generate_documents_df
from quickb_spark.functions.hashing import xxhash64 as xxh_str
from quickb_spark.index.encode import decode_posting_list, decode_positions
from quickb_spark.fs import list_parquet_files
from quickb_spark.index.p1_direct import DOC_COLUMNS, plan_groups
from quickb_spark.index.segments import build_index, load_stats
from quickb_spark.index.xxh import (
    chain_strings,
    hash_bytes_vec,
    hash_int_tail,
    hash_long_array,
)
from quickb_spark.query.searcher import Searcher

N_DOCS = 400

# Zipf-hot terms of the fixture corpus (most python docs hold them)
_HOT_TERMS = ("def", "return", "self")


def _cfg() -> EngineConfig:
    return EngineConfig(
        index=IndexConfig(term_buckets=8)
    )


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("p1corpus") / "documents")
    generate_documents_df(spark, N_DOCS, partitions=6).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def both_indexes(spark, corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("p1idx")
    idx_ch = str(root / "chunks")
    idx_di = str(root / "direct")
    build_index(
        spark, index_dir=idx_ch, cfg=_cfg(),
        chunks=chunk_documents(spark.read.parquet(corpus), _cfg()),
    )
    build_index(spark, index_dir=idx_di, cfg=_cfg(), corpus_uri=corpus)
    return idx_ch, idx_di


def _sha256_tree(index_dir: str) -> dict[str, str]:
    """relative path -> sha256 of every segments/ and lexicon/ parquet file
    and meta/stats.json."""
    import hashlib

    out = {}
    for sub in ("segments", "lexicon"):
        for d, _, names in os.walk(os.path.join(index_dir, sub)):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(d, n)
                    with open(p, "rb") as f:
                        out[os.path.relpath(p, index_dir)] = hashlib.sha256(
                            f.read()).hexdigest()
    with open(os.path.join(index_dir, "meta", "stats.json"), "rb") as f:
        out["meta/stats.json"] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_chunks_build_byte_identical_to_corpus_uri_build(both_indexes):
    """build_index(chunks=chunk_documents(docs)) runs the same phase-1
    tasks over the staged (doc_id, text) rows: its segment and lexicon
    files and stats.json are byte-identical to the
    corpus_uri= build, and no staged copy is left behind."""
    from quickb_spark.index.segments import STAGED_INPUT

    idx_ch, idx_di = both_indexes
    got, want = _sha256_tree(idx_ch), _sha256_tree(idx_di)
    assert len(got) > 2 * 8 and got == want
    assert not os.path.exists(os.path.join(idx_ch, STAGED_INPUT))


def test_chunks_build_runs_as_many_jobs_as_documents_build(spark, corpus,
                                                           tmp_path):
    """A chunks= build stages its input with one Spark write and then runs
    the documents= build's jobs: phase 1 and one phase-2 wave. A
    documents= build over createDataFrame stages too; one over a plain
    parquet scan reads the scan's files in place and runs no staging job.
    Jobs are counted with the status tracker over a job group the test
    owns."""
    sc = spark.sparkContext
    docs = spark.read.parquet(corpus)
    counts = {}
    for name, inp in (
        ("documents", {"documents": docs}),
        ("documents_in_memory",
         {"documents": spark.createDataFrame(docs.collect(), docs.schema)}),
        ("chunks", {"chunks": chunk_documents(docs, _cfg())}),
    ):
        gid = f"test-build-jobs-{name}"
        sc.setJobGroup(gid, gid)
        try:
            build_index(spark, index_dir=str(tmp_path / name), cfg=_cfg(),
                        **inp)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counts[name] = len(sc.statusTracker().getJobIdsForGroup(gid))
    assert counts == {"documents": 2, "documents_in_memory": 3, "chunks": 3}


def test_corpus_uri_build_runs_two_jobs_and_samples_nothing(spark, corpus,
                                                          tmp_path):
    """A corpus_uri= build runs exactly two Spark jobs, phase 1 and one
    phase-2 wave: no sampling job precedes phase 1, no phase0 label is
    timed, and no hot-term file or salt setting is written."""
    sc = spark.sparkContext
    idx = str(tmp_path / "two_jobs")
    gid = "test-build-jobs-corpus-uri"
    timings = {}
    sc.setJobGroup(gid, gid)
    try:
        build_index(spark, index_dir=idx, cfg=_cfg(), corpus_uri=corpus,
                    timings=timings)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 2
    assert not any(label.startswith("phase0") for label in timings)
    assert not os.path.exists(os.path.join(idx, "meta", "hot_terms.json"))
    stats = load_stats(idx)
    assert stats["format_version"] == 6
    assert not {"hot_terms", "salt_buckets"} & set(stats)


def test_hash_bit_identity(spark):
    rows = [
        ("r/alpha", "src/a.py", "c0ffee01", 0),
        ("r/alpha", "src/a.py", "c0ffee01", 7),
        ("r/βeta", "deep/ünïcode path.md", "deadbeef", 2),
        ("", "", "", 0),
        ("r", "p", "c", 2**31 - 1),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, chunk_idx int"
    )
    got = df.select(
        F.xxhash64("repo", "path", "commit", "chunk_idx").alias("h4"),
        F.xxhash64("repo").alias("h1"),
    ).collect()
    seeds = np.array(
        [chain_strings((r, p, c)) for r, p, c, _ in rows], dtype=np.int64
    )
    idxs = np.array([i for *_, i in rows], dtype=np.int64)
    want4 = hash_int_tail(idxs, seeds)
    for row, w4, (r, *_rest) in zip(got, want4, rows):
        assert row["h4"] == int(w4)
        assert row["h1"] == xxh_str(r)
    # long path + pmod (phase 2's term split of a big bucket)
    longs = [0, 1, -1, 2**62, -(2**62), 42]
    ldf = spark.createDataFrame([(v,) for v in longs], "v long")
    got_l = ldf.select(
        F.xxhash64("v").alias("h"),
        F.pmod(F.xxhash64("v"), F.lit(4)).alias("s"),
    ).collect()
    want_l = hash_long_array(np.array(longs, dtype=np.int64))
    want_s = want_l % np.int64(4)
    for row, wh, ws in zip(got_l, want_l, want_s):
        assert row["h"] == int(wh)
        assert row["s"] == int(ws)


def test_hash_bytes_vec_matches_scalar():
    import random

    rng = random.Random(11)
    cases = [b"", b"a", b"x" * 31, b"y" * 32, b"z" * 33, b"w" * 100,
             "ünïcode päth/ファイル.py".encode()]
    cases += [bytes(rng.randrange(256) for _ in range(L)) for L in range(70)]
    seeds = [42] + [rng.randrange(-(2**63), 2**63) for _ in cases[1:]]
    got = hash_bytes_vec(cases, np.array(seeds, dtype=np.int64))
    for c, s, g in zip(cases, seeds, got):
        assert int(g) == xxh_str(c, seed=s & (2**64 - 1))


def test_plan_groups_covers_all_files_once(corpus):
    files = list_parquet_files(corpus)
    assert files and files == sorted(files)
    groups = plan_groups(files, 4)
    flat = [p for g in groups for p in g]
    assert sorted(flat) == sorted(p for p, _ in files)
    # deterministic
    assert plan_groups(files, 4) == groups


def test_stats_and_doc_stats_identical(spark, both_indexes):
    idx_ch, idx_di = both_indexes
    s_ch, s_di = load_stats(idx_ch), load_stats(idx_di)
    for k in ("n_docs", "avgdl", "n_postings", "format_version"):
        assert s_ch[k] == s_di[k], k
    ds = [
        sorted(
            (r["doc_id"], r["doc_len"])
            for r in spark.read.parquet(os.path.join(p, "doc_stats")).collect()
        )
        for p in (idx_ch, idx_di)
    ]
    assert ds[0] == ds[1]


def test_lexicon_identical(spark, both_indexes):
    idx_ch, idx_di = both_indexes
    lex = [
        sorted(
            (r["bucket"], r["term_h"], r["df"])
            for r in spark.read.parquet(os.path.join(p, "lexicon")).collect()
        )
        for p in (idx_ch, idx_di)
    ]
    assert lex[0] == lex[1] and len(lex[0]) > 100


def _postings_map(spark, index_dir: str, term_hs: list[int]):
    """term_h -> sorted [(doc_id, tf, dl, positions-tuple)] merged across
    a term's segment rows."""
    stats = load_stats(index_dir)
    rows = (
        spark.read.parquet(os.path.join(index_dir, "segments"))
        .filter(F.col("term_h").isin(term_hs))
        .select("term_h", "doc_stream", "tf_stream", "dl_stream",
                "pos_stream", "df_part")
        .collect()
    )
    out: dict[int, list] = {h: [] for h in term_hs}
    for r in rows:
        n = int(r["df_part"])
        dids, tfs, dls = decode_posting_list(
            bytes(r["doc_stream"]), bytes(r["tf_stream"]), n,
            bytes(r["dl_stream"]), stats["block_size"],
        )
        poss = decode_positions(bytes(r["pos_stream"]), tfs)
        out[int(r["term_h"])].extend(
            (int(d), int(t), int(l), tuple(p.tolist()))
            for d, t, l, p in zip(dids, tfs, dls, poss)
        )
    return {h: sorted(v) for h, v in out.items()}


def test_posting_lists_identical(spark, both_indexes):
    idx_ch, idx_di = both_indexes
    lex = (
        spark.read.parquet(os.path.join(idx_ch, "lexicon"))
        .orderBy(F.desc("df"), "term_h")
        .limit(40)
        .collect()
    )
    # hottest terms (multi-block) + the fixture's Zipf-hot terms
    term_hs = sorted({int(r["term_h"]) for r in lex} |
                     {xxh_str(t) for t in _HOT_TERMS})
    pm_ch = _postings_map(spark, idx_ch, term_hs)
    pm_di = _postings_map(spark, idx_di, term_hs)
    assert pm_ch == pm_di
    assert sum(len(v) for v in pm_ch.values()) > 500


def test_query_results_identical(spark, both_indexes):
    idx_ch, idx_di = both_indexes
    qs = fixture_queries()[:12]
    res = []
    for p in (idx_ch, idx_di):
        rows = Searcher(spark, p).topk(qs, k=10).collect()
        res.append(
            sorted(
                (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in rows
            )
        )
    assert res[0] == res[1] and len(res[0]) > 50


def test_split_merge_identical(spark, both_indexes, tmp_path):
    """Term-granular bucket splitting (the Zipf-skew straggler fix) must
    produce the same decoded postings + lexicon as the unsplit merge."""
    from quickb_spark.index.p2_direct import merge_encode_buckets

    _, idx_di = both_indexes
    flat = os.path.join(idx_di, "flat")
    seg2 = str(tmp_path / "seg_split")
    lex2 = str(tmp_path / "lex_split")
    summaries = merge_encode_buckets(
        spark, flat, seg2, lex2, list(range(8)), 128, True,
        target_bytes=1,  # force max splitting on every bucket
    )
    assert any("/" in s["src_file"] and not s["src_file"].endswith("/1)")
               for s in summaries), "no bucket actually split"
    lex_a = sorted(
        (r["bucket"], r["term_h"], r["df"])
        for r in spark.read.parquet(os.path.join(idx_di, "lexicon")).collect()
    )
    lex_b = sorted(
        (r["bucket"], r["term_h"], r["df"])
        for r in spark.read.parquet(lex2).collect()
    )
    assert lex_a == lex_b
    term_hs = sorted({t for _, t, _ in lex_a[:200]})

    # decode comparison against the committed unsplit segments
    pm_a = _postings_map(spark, idx_di, term_hs)
    stats = load_stats(idx_di)
    rows = (
        spark.read.parquet(seg2)
        .filter(F.col("term_h").isin(term_hs))
        .select("term_h", "doc_stream", "tf_stream", "dl_stream",
                "pos_stream", "df_part")
        .collect()
    )
    pm_b: dict[int, list] = {h: [] for h in term_hs}
    for r in rows:
        n = int(r["df_part"])
        dids, tfs, dls = decode_posting_list(
            bytes(r["doc_stream"]), bytes(r["tf_stream"]), n,
            bytes(r["dl_stream"]), stats["block_size"],
        )
        poss = decode_positions(bytes(r["pos_stream"]), tfs)
        pm_b[int(r["term_h"])].extend(
            (int(d), int(t), int(l), tuple(p.tolist()))
            for d, t, l, p in zip(dids, tfs, dls, poss)
        )
    pm_b = {h: sorted(v) for h, v in pm_b.items()}
    assert pm_a == pm_b


def _run_schemas(idx_dir: str) -> set[str]:
    import pyarrow.parquet as pq

    flat = os.path.join(idx_dir, "flat")
    runs = [
        os.path.join(r, f)
        for r, _, fs_ in os.walk(flat)
        for f in fs_
        if f.endswith(".parquet")
    ]
    assert runs
    return set(pq.ParquetFile(runs[0]).schema_arrow.names)


def test_runs_carry_doc_len_by_default(spark, both_indexes):
    """Pin the run layout: doc_len IS a per-posting run column. The
    round-4 shed-and-re-attach layout (8 bytes/posting lighter runs,
    per-posting searchsorted at merge) measured strictly slower at every
    level and is gone."""
    _, idx_di = both_indexes
    names = _run_schemas(idx_di)
    assert names == {"term_h", "doc_id", "tf", "doc_len", "pos_vb"}


def test_memory_guard_splits_and_fails_fast(spark, tmp_path):
    """The phase-2 memory guard on a SYNTHETIC oversized bucket: an
    over-budget bucket is term-split into read-time-filtered sub-tasks
    (identical decoded output to the unsplit merge), and a budget no split
    count can satisfy fails fast with the term_buckets prescription
    instead of OOMing the wave."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickb_spark.index.p2_direct import merge_encode_buckets

    rng = np.random.default_rng(7)
    # few docs x many terms (big bucket): each term's
    # postings are a sorted subset of the doc pool, so every term's list
    # is strictly doc-increasing while the bucket's bytes are
    # dominated by incompressible per-posting position payloads
    n_pool, n_terms, per_term, pos_bytes = 60, 2000, 50, 30
    n = n_terms * per_term
    pool = np.sort(rng.choice(2**62, size=n_pool, replace=False).astype(np.int64))
    sel = np.concatenate(
        [np.sort(rng.choice(n_pool, per_term, replace=False))
         for _ in range(n_terms)]
    )
    did = pool[sel]
    th = np.repeat(np.arange(n_terms, dtype=np.int64) * 7919 + 13, per_term)

    flat = tmp_path / "flat"
    bdir = flat / "bucket=0"
    bdir.mkdir(parents=True)
    pos_vals = rng.bytes(pos_bytes * n)  # never decoded: slice/concat only
    pos_off = np.arange(n + 1, dtype=np.int32) * pos_bytes
    run = pa.table(
        {
            "term_h": pa.array(th, type=pa.int64()),
            "doc_id": pa.array(did, type=pa.int64()),
            "tf": pa.array(np.ones(n, np.int32), type=pa.int32()),
            "doc_len": pa.array(np.full(n, 3, np.int64), type=pa.int64()),
            "pos_vb": pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(pos_off.tobytes()),
                 pa.py_buffer(pos_vals)],
            ),
        }
    )
    pq.write_table(run, str(bdir / "run-t00000.parquet"),
                   compression="snappy")
    bsize = os.path.getsize(bdir / "run-t00000.parquet")
    assert bsize > 256 * 8192 // 3, "synthetic bucket too small"

    def _merge(seg, lex, budget):
        return merge_encode_buckets(
            spark, str(flat), seg, lex, [0], 128, True,
            task_mem_bytes=budget,
            target_bytes=1 << 40,  # work-balance splitting off: memory only
        )

    _merge(str(tmp_path / "seg_a"), str(tmp_path / "lex_a"), 1 << 30)
    _merge(str(tmp_path / "seg_b"), str(tmp_path / "lex_b"), 3 * bsize // 4)
    files_b = [
        f for f in os.listdir(tmp_path / "seg_b" / "bucket=0")
        if f.endswith(".parquet")
    ]
    assert len(files_b) > 1, "memory guard did not split the bucket"
    term_hs = sorted(set(th.tolist()))
    seg_a = str(tmp_path / "seg_a")
    seg_b = str(tmp_path / "seg_b")
    pm = [
        _decode_seg_dir(spark, d, term_hs, block_size=128)
        for d in (seg_a, seg_b)
    ]
    assert pm[0] == pm[1]
    assert sum(len(p) for p, _ in pm[0].values()) == n
    # fail fast: a budget needing >256 splits
    tiny = (3 * bsize) // 400
    assert tiny < (3 * bsize) // 256, "budget window empty — enlarge fixture"
    with pytest.raises(ValueError, match="term_buckets"):
        _merge(str(tmp_path / "seg_c"), str(tmp_path / "lex_c"), tiny)


def _decode_seg_dir(spark, seg_dir, term_hs, block_size):
    """term_h -> (sorted postings, sorted raw per-group pos streams) from
    an uncommitted segment dir; positions stay raw bytes (group-identical
    across split/unsplit merges by construction)."""
    rows = (
        spark.read.parquet(seg_dir)
        .filter(F.col("term_h").isin(term_hs))
        .select("term_h", "doc_stream", "tf_stream", "dl_stream",
                "pos_stream", "df_part")
        .collect()
    )
    out = {h: ([], []) for h in term_hs}
    for r in rows:
        n = int(r["df_part"])
        dids, tfs, dls = decode_posting_list(
            bytes(r["doc_stream"]), bytes(r["tf_stream"]), n,
            bytes(r["dl_stream"]), block_size,
        )
        out[int(r["term_h"])][0].extend(
            (int(d), int(t), int(l)) for d, t, l in zip(dids, tfs, dls)
        )
        out[int(r["term_h"])][1].append(bytes(r["pos_stream"]))
    return {h: (sorted(p), sorted(ps)) for h, (p, ps) in out.items()}


def test_runs_checkpoint_resume(spark, both_indexes, tmp_path):
    """A direct-built index re-encodes from its sorted-runs checkpoint with
    no input at all (commit ledger wiped -> full phase-2 re-merge)."""
    _, idx_di = both_indexes
    idx_copy = str(tmp_path / "resume")
    shutil.copytree(idx_di, idx_copy)
    shutil.rmtree(os.path.join(idx_copy, "segments"))
    shutil.rmtree(os.path.join(idx_copy, "lexicon"))
    os.remove(os.path.join(idx_copy, "meta", "commits.json"))
    build_index(spark, index_dir=idx_copy, cfg=_cfg())
    qs = fixture_queries()[:6]
    a = sorted(map(tuple, Searcher(spark, idx_di).topk(qs, k=5).collect()))
    b = sorted(map(tuple, Searcher(spark, idx_copy).topk(qs, k=5).collect()))
    assert a == b and len(a) > 10


def _parquet_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, root)] = f.read()
    return out


def _no_staging(*_args, **_kwargs):
    raise AssertionError("staged an input that can be read in place")


def test_documents_build_equals_corpus_uri_build(spark, corpus, both_indexes,
                                                 tmp_path, monkeypatch):
    """build_index(documents=spark.read.parquet(dir)) reads the scan's own
    files in place (no staging write) and runs the same engine: segment
    and lexicon files byte-identical to the corpus_uri= build, equal stats
    and doc stats, and no staged copy left behind."""
    from quickb_spark.index import segments
    from quickb_spark.index.segments import STAGED_INPUT

    _, idx_di = both_indexes
    idx = str(tmp_path / "from_documents")
    timings = {}
    with monkeypatch.context() as m:
        m.setattr(segments, "stage_documents", _no_staging)
        build_index(
            spark, index_dir=idx, cfg=_cfg(), timings=timings,
            documents=spark.read.parquet(corpus).select(*DOC_COLUMNS),
        )
    assert "phase1 read documents in place" in timings
    assert not any("stage" in label for label in timings)
    assert not os.path.exists(os.path.join(idx, STAGED_INPUT))
    assert load_stats(idx) == load_stats(idx_di)
    for sub in ("segments", "lexicon"):
        got = _parquet_bytes(os.path.join(idx, sub))
        assert got and got == _parquet_bytes(os.path.join(idx_di, sub)), sub
    ds = [
        sorted(map(tuple, spark.read.parquet(os.path.join(p, "doc_stats"))
                   .select("doc_id", "doc_len").collect()))
        for p in (idx, idx_di)
    ]
    assert ds[0] == ds[1]


def test_documents_path_with_space_and_percent_builds_in_place(
    spark, corpus, both_indexes, tmp_path, monkeypatch
):
    """Hadoop lists a scan's files as percent-encoded URIs; a corpus under a
    directory named with a space and a `%` is still read in place, to the
    same index as the corpus_uri= build."""
    from quickb_spark.index import segments

    _, idx_di = both_indexes
    odd = str(tmp_path / "a b%20c" / "documents")
    shutil.copytree(corpus, odd)
    idx = str(tmp_path / "odd")
    with monkeypatch.context() as m:
        m.setattr(segments, "stage_documents", _no_staging)
        build_index(spark, index_dir=idx, cfg=_cfg(),
                    documents=spark.read.parquet(odd))
    assert _sha256_tree(idx) == _sha256_tree(idx_di)


@pytest.mark.parametrize("shape", ["filter", "alias", "in_memory", "partitioned"])
def test_documents_build_stages_other_plans(spark, corpus, tmp_path,
                                            monkeypatch, shape):
    """A documents= DataFrame that is not a plain parquet scan is staged,
    and its index equals a corpus_uri= rebuild of the rows it yields: a
    filter's rows are left out, a column aliased as `content` is indexed
    under that alias, createDataFrame rows and a repo-partitioned parquet
    dir (its `repo` is in the paths, not the files) build like any rows."""
    from quickb_spark.index import segments

    docs = spark.read.parquet(corpus)
    if shape == "filter":
        df = docs.where(F.col("lang") != "python")
    elif shape == "alias":
        df = docs.select("repo", "path", "commit", "lang",
                         F.col("path").alias("content"))
    elif shape == "in_memory":
        df = spark.createDataFrame(docs.collect(), docs.schema)
    else:
        part = str(tmp_path / "partitioned")
        docs.write.partitionBy("repo").parquet(part)
        df = spark.read.parquet(part)
    ref = str(tmp_path / "rows")
    df.select(*DOC_COLUMNS).write.parquet(ref)
    staged = []
    real_stage = segments.stage_documents

    def spy(*args, **kwargs):
        staged.append(args)
        return real_stage(*args, **kwargs)

    idx, want = str(tmp_path / "idx"), str(tmp_path / "want")
    with monkeypatch.context() as m:
        m.setattr(segments, "stage_documents", spy)
        build_index(spark, index_dir=idx, cfg=_cfg(), documents=df)
    assert len(staged) == 1
    build_index(spark, index_dir=want, cfg=_cfg(), corpus_uri=ref)
    assert load_stats(idx)["n_docs"] > 0
    assert _sha256_tree(idx) == _sha256_tree(want)


def test_duplicated_posting_fails_loudly(spark, both_indexes, tmp_path):
    """A runs checkpoint holding a posting twice (here: one run copied
    under a second name) makes phase 2 raise a ValueError naming the
    bucket — no fallback encodes the bad data."""
    from quickb_spark.index.segments import invalidate_buckets
    from quickb_spark.fs import IndexFS

    _, idx_di = both_indexes
    idx = str(tmp_path / "dup")
    shutil.copytree(idx_di, idx)
    bdir = os.path.join(idx, "flat", "bucket=3")
    run = sorted(n for n in os.listdir(bdir) if n.endswith(".parquet"))[0]
    shutil.copy(os.path.join(bdir, run), os.path.join(bdir, "run-dup.parquet"))
    invalidate_buckets(IndexFS(idx), idx, [3])
    with pytest.raises(ValueError, match=r"bucket=3\b"):
        build_index(spark, index_dir=idx, cfg=_cfg())


def test_packed_merge_files_match_unit_by_unit(spark, both_indexes, tmp_path):
    """The packed phase 2 writes byte-identical segment and lexicon files
    under the same names (bucket=<b>/part-m<split>.parquet) as running each
    bucket's merge unit on its own."""
    import re

    import pyarrow as pa

    from quickb_spark.fs import list_bucket_files
    from quickb_spark.index.p2_direct import _merge_one_bucket

    _, idx_di = both_indexes
    flat = os.path.join(idx_di, "flat")
    seg_ref, lex_ref = str(tmp_path / "seg"), str(tmp_path / "lex")
    by_bucket: dict[int, list[str]] = {}
    for b, p, _sz in list_bucket_files(flat, list(range(8))):
        by_bucket.setdefault(b, []).append(p)
    prev_cpus = pa.cpu_count()
    try:
        for b, paths in by_bucket.items():
            _merge_one_bucket(
                b, paths, flat, seg_ref, lex_ref, 128, True,
            )
    finally:
        pa.set_cpu_count(prev_cpus)

    for built, ref in ((os.path.join(idx_di, "segments"), seg_ref),
                       (os.path.join(idx_di, "lexicon"), lex_ref)):
        got, want = _parquet_bytes(built), _parquet_bytes(ref)
        assert sorted(got) == sorted(want) and len(got) == len(by_bucket)
        assert all(re.fullmatch(r"bucket=\d+/part-m0000\.parquet", k)
                   for k in got)
        assert got == want


def test_engine_jobs_keep_caller_job_labels(spark, corpus, tmp_path):
    """Engine jobs carry their own descriptions but leave the caller's
    job description and job group as they found them."""
    sc = spark.sparkContext
    idx = str(tmp_path / "labels")
    sc.setJobGroup("test-caller-group", "caller description")
    try:
        build_index(spark, index_dir=idx, cfg=_cfg(), corpus_uri=corpus)
        assert sc.getLocalProperty("spark.job.description") == (
            "caller description")
        s = Searcher(spark, idx)
        s.preload()
        rows = s.topk(fixture_queries()[:3], k=3).collect()
        assert rows
        assert sc.getLocalProperty("spark.job.description") == (
            "caller description")
        assert sc.getLocalProperty("spark.jobGroup.id") == "test-caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # no caller description: none is left behind either
    s.topk(fixture_queries()[:3], k=3).collect()
    assert sc.getLocalProperty("spark.job.description") is None
