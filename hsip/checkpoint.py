"""S5 — idempotent stage checkpoints (BASELINE.json:6 "resumable from
Iceberg-backed checkpoints").

Each stage's output is committed atomically through the Catalog (Iceberg
snapshot on a cluster; temp-dir + rename + manifest in the parquet
fallback). A stage is skipped on re-run iff its manifest exists AND its
recorded config fingerprint matches — a config change invalidates the
stage and everything downstream (SURVEY.md §3 entry point 3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog


def fingerprint_aggs(id_col: str = "id", text_col: str = "text") -> list[Column]:
    """The aggregates behind the input fingerprint, (n, hi, hs).

    Config fingerprints alone can't tell that a caller re-ran the same
    run_id over CHANGED data — resume would then serve stale checkpoints
    (ADVICE.md r2). One aggregate pass over the pipeline input captures:
    row count, an order-free sum of id hashes, and an order-free sum of
    full (id, text) row hashes — every row's content contributes, so any
    in-place edit flips the fingerprint (ADVICE.md r3: a sampled sum
    missed ~99.8% of single-row edits). ANSI mode: long sums overflow, so
    hashes accumulate as decimal(38,0). The pipeline observes them on
    the pass that materializes its input (``fingerprint_str`` of the
    observed values), so the fingerprint costs no job of its own.
    """
    h_id = F.xxhash64(F.col(id_col), F.lit(7)).cast("decimal(38,0)")
    h_row = F.xxhash64(F.col(id_col), F.col(text_col), F.lit(11)).cast("decimal(38,0)")
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h_id).alias("hi"),
        F.sum(h_row).alias("hs"),
    ]


def fingerprint_str(values) -> str:
    """The input fingerprint of the (n, hi, hs) aggregate values."""
    return f"{values['n']}-{values['hi']}-{values['hs']}"


class Checkpointer:
    def __init__(self, catalog: Catalog, run_id: str, fingerprint: str,
                 reuse: bool = True):
        """``reuse=False`` (jobs run without --resume) recomputes every
        stage, overwriting stale checkpoints for the run_id."""
        self.catalog = catalog
        self.run_id = run_id
        self.fingerprint = fingerprint
        self.reuse = reuse
        self.skipped: list[str] = []
        self.computed: list[str] = []

    def _ident(self, stage: str) -> str:
        return f"ckpt.{self.run_id}.{stage}"

    def done(self, stage: str) -> bool:
        if not self.reuse:
            return False
        ident = self._ident(stage)
        if not self.catalog.exists(ident):
            return False
        # fingerprint lives in the parquet manifest meta OR the Iceberg
        # table properties (hsip.fingerprint) — Catalog.properties()
        # normalizes both, so a config change invalidates the stage on
        # the cluster path too (ADVICE.md r1)
        return self.catalog.properties(ident).get("fingerprint") == self.fingerprint

    def materialize(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Return the stage output, recomputing only if not checkpointed."""
        if self.done(stage):
            self.skipped.append(stage)
            return self.catalog.read(self._ident(stage))
        df = build()
        self.catalog.write(df, self._ident(stage), meta={"fingerprint": self.fingerprint})
        self.computed.append(stage)
        return self.catalog.read(self._ident(stage))

    def partition_rows(self, stage: str) -> list[tuple[int, int]]:
        """(write partition, rows) of the stage's committed checkpoint,
        read from file metadata (Catalog.partition_rows)."""
        return self.catalog.partition_rows(self._ident(stage))
