"""Engine configuration.

Mirrors the reference's validate-early philosophy (QuicKB pydantic config,
reference src/main.py:33-166) with a plain frozen dataclass: every knob is
validated in __post_init__ and unknown keys are rejected by construction.

Chunker defaults reproduce the reference's golden config exactly
(reference config.yaml:18-24): chunk_size=400, chunk_overlap=0,
character length, keep_separator=True, default separator hierarchy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: Default separator hierarchy (reference recursive_token_chunker.py:49,
#: config.yaml:22). Order matters: first separator found in the text wins.
DEFAULT_SEPARATORS: tuple[str, ...] = ("\n\n", "\n", ".", "?", "!", " ", "")

#: Python-language separators (reference recursive_token_chunker.py:97-106).
PYTHON_SEPARATORS: tuple[str, ...] = (
    "\nclass ",
    "\ndef ",
    "\n\tdef ",
    "\n\n",
    "\n",
    " ",
    "",
)

#: Per-language separator table. The reference implements only PYTHON
#: (recursive_token_chunker.py:95-109 raises for everything else); every other
#: language falls back to the default hierarchy, matching how the reference's
#: pipeline actually runs (config.yaml passes the default list explicitly).
LANG_SEPARATORS: dict[str, tuple[str, ...]] = {
    "python": PYTHON_SEPARATORS,
    "py": PYTHON_SEPARATORS,
}

#: THE term definition for the whole engine (SURVEY.md §2.7 C7). Applied to
#: lowercased text. Identifiers (incl. underscores) or integer literals.
#: This exact pattern is used by the Spark build (regexp_extract_all), the
#: DuckDB oracles, and the Python test oracles — one spec, three engines.
TOKEN_PATTERN = r"[a-z_][a-z0-9_]*|[0-9]+"

#: BM25 constants, fixed by spec (SURVEY.md §2.11).
BM25_K1 = 1.2
BM25_B = 0.75


@dataclass(frozen=True)
class ChunkerConfig:
    """Recursive-character chunker parameters (reference config.yaml:18-24)."""

    chunk_size: int = 400
    chunk_overlap: int = 0
    keep_separator: bool = True
    separators: tuple[str, ...] = DEFAULT_SEPARATORS
    lang_aware: bool = True

    def __post_init__(self) -> None:
        if self.chunk_overlap > self.chunk_size:
            # Same guard as reference fixed_token_chunker.py:52-56.
            raise ValueError(
                f"chunk_overlap ({self.chunk_overlap}) must not exceed "
                f"chunk_size ({self.chunk_size})"
            )
        if self.chunk_size <= 0:
            raise ValueError("chunk_size must be positive")
        if not self.separators:
            raise ValueError("separators must be non-empty")


@dataclass(frozen=True)
class IndexConfig:
    """Inverted-index build parameters."""

    #: Ignored: hot-term salting is gone (phase 2 cuts long posting lists
    #: into doc-range rows, index/p2_direct.py). The three fields stay
    #: accepted only because the benchmark's spec still passes them; its
    #: next declared change drops them, and these fields with it.
    hot_term_doc_fraction: float = 0.05
    hot_term_min_df: int = 10_000
    salt_buckets: int = 16
    #: Posting docs per compressed block (block-max WAND granularity).
    block_size: int = 128
    #: Number of hash buckets for the segment table layout; query-time term
    #: lookups prune to one bucket (Iceberg/Hive-style partition pruning).
    term_buckets: int = 64
    #: Store token positions in postings (needed for phrase queries; costs
    #: space). The north star's posting tuple is (docID, tf, positions).
    store_positions: bool = True
    #: Phase-2 merge task memory budget (index/p2_direct.py). A bucket whose
    #: estimated decoded working set exceeds this is term-granularly split
    #: (each split filters its terms per run at read time, so the split IS a
    #: memory bound); a bucket that would need >256 splits fails fast with a
    #: term_buckets prescription instead of OOMing the wave.
    p2_task_mem_bytes: int = 4 << 30
    #: Target CORPUS bytes per direct phase-1 task (index/p1_direct.py).
    #: Deliberately cluster-size-INDEPENDENT, like Spark's own
    #: maxPartitionBytes input splits: sizing tasks by core count would
    #: give a smaller cluster bigger (more memory-churning) tasks and
    #: distort job-vs-job comparisons. A task's working set is roughly
    #: 10-20x its input bytes (postings + vocab + sort buffers); raise
    #: this only with executor memory to spare.
    p1_task_bytes: int = 32 << 20

    def __post_init__(self) -> None:
        if self.block_size < 1 or self.term_buckets < 1:
            raise ValueError("block_size/term_buckets must be >= 1")
        if self.p2_task_mem_bytes < 1 << 20:
            raise ValueError("p2_task_mem_bytes must be >= 1 MiB")
        if self.p1_task_bytes < 1:
            raise ValueError("p1_task_bytes must be >= 1")


@dataclass(frozen=True)
class EngineConfig:
    chunker: ChunkerConfig = field(default_factory=ChunkerConfig)
    index: IndexConfig = field(default_factory=IndexConfig)
    bm25_k1: float = BM25_K1
    bm25_b: float = BM25_B
    top_k: int = 10


def separators_for_lang(lang: str | None, cfg: ChunkerConfig) -> tuple[str, ...]:
    """Separator hierarchy for a language (default hierarchy if unknown)."""
    if cfg.lang_aware and lang:
        return LANG_SEPARATORS.get(lang.strip().lower(), cfg.separators)
    return cfg.separators
