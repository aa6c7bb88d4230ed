"""Pluggable per-bucket commit protocol for index builds.

The build's resumability contract (north star: "resumable from
per-partition checkpoints with lineage and term/posting-count metrics
logged per segment") needs one thing from storage: an atomic ledger of
bucket -> committed-metadata that is written only AFTER a wave's data has
fully landed. Two implementations:

- `LedgerCommitProtocol` (default): ONE atomic JSON file at
  `meta/commits.json`, written through the index root's pyarrow filesystem
  (quickb_spark.fs; plain, file:// and s3:// roots alike). This is the
  protocol every test and the scaling bench run.
- `IcebergCommitProtocol`: the same ledger kept as single-row-per-bucket
  upserts into an Iceberg table — each wave commit becomes an Iceberg
  snapshot, giving the index the catalog-native commit/rollback semantics
  the north star's "Iceberg-backed index segments" describes. It
  activates only where an iceberg-spark runtime jar is on the classpath
  (`IcebergCommitProtocol.available(spark)`, the same class-probe seam as
  tests/test_iceberg_seam.py); this sandbox ships none, so its
  integration test self-skips exactly like the input-side seam.

`build_index(commit_protocol=...)` accepts either; `load_commits` /
`invalidate_buckets` in index/segments.py remain as wrappers over the
default ledger for API stability.
"""

from __future__ import annotations

import json

from quickb_spark.fs import IndexFS, join_path

__all__ = [
    "CommitProtocol",
    "LedgerCommitProtocol",
    "IcebergCommitProtocol",
]


class CommitProtocol:
    """bucket -> committed-meta ledger with atomic whole-wave commits."""

    def load(self) -> dict[int, dict]:
        raise NotImplementedError

    def save(self, commits: dict[int, dict]) -> None:
        """Atomically replace the ledger (called once per landed wave)."""
        raise NotImplementedError

    def invalidate(self, buckets: list[int]) -> None:
        """Drop buckets from the ledger so the next build re-encodes them
        (used by the streaming delta fold)."""
        commits = self.load()
        changed = False
        for b in buckets:
            if b in commits:
                del commits[b]
                changed = True
        if changed:
            self.save(commits)


class LedgerCommitProtocol(CommitProtocol):
    """One atomic JSON file (`meta/commits.json`) — the default.

    Metas for a wave are only ever written together AFTER the wave's data
    has fully landed, so per-bucket files would add no recovery
    granularity — only O(buckets) driver<->FS round-trips per wave (each
    a request on an object store). A torn write (non-atomic FS) parses as
    an empty ledger: the affected buckets re-encode idempotently."""

    def __init__(self, fs: IndexFS, index_dir: str) -> None:
        self.fs = fs
        self.path = join_path(index_dir, "meta", "commits.json")

    def load(self) -> dict[int, dict]:
        if not self.fs.exists(self.path):
            return {}
        try:
            raw = json.loads(self.fs.read_text(self.path))
        except ValueError:
            return {}
        return {int(k): v for k, v in raw.items()}

    def save(self, commits: dict[int, dict]) -> None:
        self.fs.write_text_atomic(
            self.path,
            json.dumps({str(k): v for k, v in sorted(commits.items())}),
        )


class IcebergCommitProtocol(CommitProtocol):
    """Ledger as an Iceberg table: one row per bucket, whole-wave upserts.

    Each `save` is one Iceberg transaction (`createOrReplace` of the tiny
    ledger relation), i.e. one snapshot per wave — time-travel over
    snapshots IS the build's commit history, and a catalog-level rollback
    rolls the index's committed set back with it. The payload stays the
    same JSON meta the ledger file holds, so `segments_meta()` lineage is
    identical under either protocol.

    Requires an iceberg-spark runtime jar + a configured catalog; use
    `available(spark)` to probe (False in this sandbox — the integration
    test self-skips, same pattern as the Iceberg input seam)."""

    def __init__(self, spark, table_ident: str) -> None:
        self.spark = spark
        self.table = table_ident

    @staticmethod
    def available(spark) -> bool:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    def _exists(self) -> bool:
        try:
            self.spark.read.format("iceberg").load(self.table).limit(0)
            return True
        except Exception:
            return False

    def load(self) -> dict[int, dict]:
        if not self._exists():
            return {}
        rows = (
            self.spark.read.format("iceberg").load(self.table).collect()
        )
        return {int(r["bucket"]): json.loads(r["meta"]) for r in rows}

    def save(self, commits: dict[int, dict]) -> None:
        df = self.spark.createDataFrame(
            [(int(b), json.dumps(m)) for b, m in sorted(commits.items())],
            "bucket int, meta string",
        )
        # one transaction -> one snapshot per wave commit
        df.writeTo(self.table).using("iceberg").createOrReplace()
