"""Expected answers from the brute-force BM25 oracle, and the answer check.

The oracle is `tests/oracle_bm25.OracleIndex` built over the chunker's output
(`chunking.udf.chunk_documents`) for exactly the documents the engine has
indexed at that point of the run. It is computed after the timed steps, so
whether it comes from the on-disk cache or is computed fresh never changes
what the timed steps see.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

K = 10
SCORE_TOL = 1e-6
#: the oracle keeps this many answers per query, so a doc the engine ranks
#: at the k-th place can be checked even when it ties with docs beyond k
K_EXT = 2 * K

#: Sources whose change must invalidate cached expected answers.
_ORACLE_INPUTS = [
    "tests/oracle_bm25.py",
    "quickb_spark/corpus.py",
    "quickb_spark/config.py",
    "quickb_spark/functions/tokenize.py",
    "quickb_spark/chunking/splitter.py",
    "quickb_spark/chunking/udf.py",
]


def _oracle_index_cls(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_bm25", os.path.join(root, "tests", "oracle_bm25.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.OracleIndex


def cache_key(root: str, parts: dict) -> str:
    h = hashlib.sha256(json.dumps(parts, sort_keys=True).encode())
    for rel in _ORACLE_INPUTS:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def expected_answers(spark, root: str, states: list[dict], cache_dir: str,
                     key_parts: dict) -> list[dict]:
    """One answer set per index state.

    states: [{"corpora": [parquet dirs], "kinds": {kind: [(qid, text)]}}]
    -> [{kind: {qid: [[rank, doc_id, score], ...]}}], cached on disk."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, cache_key(root, key_parts) + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from quickb_spark.chunking.udf import chunk_documents

    oracle_cls = _oracle_index_cls(root)
    chunks: dict[str, list[tuple[int, str]]] = {}
    out = []
    for st in states:
        docs: list[tuple[int, str]] = []
        for corpus in st["corpora"]:
            if corpus not in chunks:
                rows = chunk_documents(spark.read.parquet(corpus)).select(
                    "doc_id", "text"
                ).collect()
                chunks[corpus] = [(int(r[0]), r[1]) for r in rows]
            docs.extend(chunks[corpus])
        oracle = oracle_cls(docs)
        answers = {}
        for kind, queries in st["kinds"].items():
            fn = {
                "or": oracle.topk,
                "phrase": oracle.phrase_topk,
                "and": oracle.conj_topk,
            }[kind]
            answers[kind] = {qid: [list(t) for t in fn(text, K_EXT)] for qid, text in queries}
        out.append(answers)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def mismatches(rows: list[tuple], qids: list[str], expected: dict) -> tuple[list[str], int]:
    """-> (query ids whose answer is wrong, number of tie reorders).

    rows: (query_id, rank, doc_id, score) from the engine; expected: the
    oracle's ranked answers per query, K_EXT deep. An answer is right when
    it has the oracle's length (capped at K), its score at every rank is
    within SCORE_TOL of the oracle's, and the doc at every rank is one the
    oracle scores within SCORE_TOL of that rank's score. Docs the oracle
    ranks score desc, doc_id asc must come in exactly that order, except
    among docs whose scores agree to within SCORE_TOL: floating-point sums
    taken in a different order may split such an exact tie by a last-digit
    difference. Those reorders are counted, not failed."""
    got: dict[str, list[tuple]] = {q: [] for q in qids}
    bad, reorders = [], 0
    for qid, rank, doc, score in rows:
        if qid not in got:
            bad.append(qid)
            continue
        got[qid].append((int(rank), int(doc), float(score)))
    for qid in qids:
        have = sorted(got[qid])
        want = expected[qid]
        top = want[:K]
        if [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in top] and all(
            abs(a[2] - b[2]) <= SCORE_TOL for a, b in zip(have, top)
        ):
            continue
        oracle_score = {d: s for _, d, s in want}
        ok = (
            [r for r, _, _ in have] == list(range(1, len(top) + 1))
            and len({d for _, d, _ in have}) == len(have)
            and all(
                abs(h[2] - w[2]) <= SCORE_TOL
                and h[1] in oracle_score
                and abs(oracle_score[h[1]] - w[2]) <= SCORE_TOL
                for h, w in zip(have, top)
            )
        )
        if ok:
            reorders += 1
        else:
            bad.append(qid)
    return bad, reorders
