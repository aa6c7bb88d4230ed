"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Generates the BASELINE.json input_hint table shape
    (repo:string, path:string, commit:string, lang:string, content:string)
with a fixed seed — no external data, no network. Content is template-
generated source text covering every chunker edge case (FIXTURES.md) and a
Zipfian token skew (`def`, `import`, `return` in most python docs) that
gives the index long posting lists (multi-block rows, split big buckets).

Generation is row-index-deterministic, so any slice of the corpus is stable
across runs, partitionings, and scale factors. For Spark-side generation at
bench scale the same rule runs inside mapInPandas over spark.range — the
generator never materializes the corpus on the driver.
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

__all__ = ["DOCUMENTS_SCHEMA", "gen_document", "generate_documents_df", "fixture_queries"]

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

_LANGS = ["python", "python", "python", "java", "go", "js", "markdown", "c"]
_EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "markdown": "md", "c": "c"}

_IDENTS = [
    "load_dataset", "parse_config", "build_index", "merge_segments", "score",
    "tokenize", "chunker", "registry", "pipeline", "question", "embedding",
    "dedup", "varbyte", "posting", "wand", "bm25", "spark", "arrow", "batch",
    "checkpoint", "lineage", "segment", "shuffle", "partition", "salt",
]
_WORDS = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "index",
    "query", "retrieval", "corpus", "document", "ranking", "relevance",
    "throughput", "latency", "cluster", "executor", "memory",
]


def _py_content(rng: random.Random, i: int) -> str:
    parts = [f"import {rng.choice(_IDENTS)}\nimport os\n"]
    for c in range(rng.randint(1, 3)):
        cls = rng.choice(_IDENTS)
        parts.append(f"\n\nclass {cls.title().replace('_', '')}{c}:\n")
        parts.append(f'    """{" ".join(rng.choices(_WORDS, k=rng.randint(4, 30)))}.\n\n')
        parts.append(f'    {" ".join(rng.choices(_WORDS, k=rng.randint(4, 20)))}.\n    """\n')
        for m in range(rng.randint(1, 4)):
            fn = rng.choice(_IDENTS)
            parts.append(f"\n    def {fn}_{m}(self, value):\n")
            parts.append(f"        return {rng.choice(_IDENTS)}(value) + {rng.randint(0, 999)}\n")
        if rng.random() < 0.3:
            parts.append(f"\n\tdef tab_method(self):\n\t\treturn {rng.randint(0, 99)}\n")
    parts.append(f"\n\ndef main():\n    {rng.choice(_IDENTS)}()\n")
    if rng.random() < 0.1:  # oversized unsplittable line
        parts.append("    x = '" + "A" * rng.randint(450, 900) + "'\n")
    return "".join(parts)


def _prose_content(rng: random.Random, i: int) -> str:
    paras = []
    for _ in range(rng.randint(1, 6)):
        sents = []
        for _ in range(rng.randint(1, 8)):
            sents.append(
                " ".join(rng.choices(_WORDS + _IDENTS, k=rng.randint(3, 15)))
                + rng.choice([".", "?", "!"])
            )
        paras.append(" ".join(sents))
    return "\n\n".join(paras)


def _c_like_content(rng: random.Random, i: int, lang: str) -> str:
    parts = [f"// {lang} module {i}\n"]
    for _ in range(rng.randint(1, 5)):
        fn = rng.choice(_IDENTS)
        parts.append(f"\nfunction {fn}(arg) {{\n")
        for _ in range(rng.randint(1, 6)):
            parts.append(f"  var {rng.choice(_IDENTS)} = {rng.choice(_IDENTS)}({rng.randint(0, 99)});\n")
        parts.append("  return result;\n}\n")
    return "".join(parts)


def gen_document(i: int, seed: int = 42) -> tuple[str, str, str, str, str]:
    """Row i of the corpus — pure function of (i, seed)."""
    rng = random.Random((seed << 32) ^ i)
    lang = _LANGS[i % len(_LANGS)]
    repo = f"org{i % 7}/repo{i % 53}"
    name = f"{rng.choice(_IDENTS)}_{i}"
    path = f"src/{rng.choice(_IDENTS)}/{name}.{_EXT[lang]}"
    commit = hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40]

    mod = i % 101
    if mod == 0:
        content = ""  # empty doc
    elif mod == 1:
        content = "   \n\n \t "  # whitespace only
    elif mod == 2:
        content = "x"  # single char
    elif mod == 3:
        content = "Z" * 2000  # no separators at all
    elif mod == 4:
        content = f"émoji 🎉 ünïcode ідентифікатор {i}.\n\nSecond пара graph."
    elif mod in (5, 6):
        # exact duplicates across different (repo, path): same content for
        # mod 5 and 6 within the same 101-block (dedup / sha256 cases)
        dup_rng = random.Random((seed << 32) ^ (i - (mod - 5)))
        content = _prose_content(dup_rng, i - (mod - 5))
    elif lang == "python":
        content = _py_content(rng, i)
    elif lang == "markdown":
        content = _prose_content(rng, i)
    else:
        content = _c_like_content(rng, i, lang)
    return repo, path, commit, lang, content


def generate_documents_df(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed generation: the rule runs on executors via mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [gen_document(int(i), seed) for i in b["id"]]
            yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    rng_df = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, DOCUMENTS_SCHEMA)


def fixture_queries() -> list[tuple[str, str]]:
    """The reference query set (FIXTURES.md §3): ~50 deterministic queries."""
    qs: list[str] = [
        "def",  # hot single term
        "import",
        "return value",
        "load_dataset",
        "parse config yaml",
        "merge segments posting",
        "quick brown fox",
        "lazy dog jumps over",
        "bm25 ranking relevance",
        "varbyte posting wand",
        "checkpoint lineage segment",
        "zzz_absent_term_xyzzy",  # no hits
        "ідентифікатор",  # unicode (tokenizer drops non-ascii → empty)
        "class registry pipeline",
        "throughput latency cluster",
        "spark arrow batch",
        "tokenize chunker",
        "question embedding dedup",
        "executor memory",
        "index query retrieval corpus",
    ]
    rng = random.Random(777)
    vocab = _IDENTS + _WORDS
    while len(qs) < 50:
        qs.append(" ".join(rng.choices(vocab, k=rng.randint(1, 5))))
    return [(f"q{i:04d}", q) for i, q in enumerate(qs)]
