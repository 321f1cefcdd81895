"""S6 — lineage + metrics tables (BASELINE.json:6 "per-partition lineage
and metrics tables").

Metrics are driver-side scalars (counts, timings, truncation events —
"no silent caps"). Counts over data ride the actions the pipeline runs
anyway: an ``observation`` attached to a frame is filled in by the first
action that executes it, so recording costs no job. Lineage is the
per-partition row accounting of each committed stage, read from its
files' metadata (Catalog.partition_rows) — no job either. Both are
buffered and appended once per run by ``flush``.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from . import schemas
from .catalog import Catalog

# an observed plan reports its metrics through Spark's listener bus just
# after its action returns; this bounds the wait should it never have run
_OBSERVED_WAIT_S = 120.0


class Recorder:
    def __init__(self, spark: SparkSession, catalog: Catalog | None, run_id: str):
        """``catalog=None`` keeps metrics in memory (no warehouse): callers
        without a persistent catalog — contract queries, tests — still get
        truncation accounting instead of dropping it ("no silent caps");
        read them back via ``recorded()``."""
        self.spark = spark
        self.catalog = catalog
        self.run_id = run_id
        self._metric_rows: list[tuple] = []
        self._lineage_rows: list[tuple] = []
        self._observed: list[tuple[str, str, Observation]] = []

    def metric(self, stage: str, key: str, value: float) -> None:
        self._metric_rows.append(
            (self.run_id, stage, key, float(value), datetime.now(timezone.utc))
        )

    def observation(self, stage: str, key: str) -> Observation:
        """A one-metric ``Observation`` whose value becomes the (stage, key)
        metric when ``collect_observed`` runs. Attach it with
        ``df.observe(obs, <aggregate>)`` where the frame is built, i.e. in
        code that runs only when its stage computes: reading waits for an
        action to execute the observed plan, and a checkpointed stage that
        is skipped executes nothing. The first action to execute the plan
        fills it in, so that action must consume every row (a write, a
        barrier, a join) — never ``isEmpty``/``first``/``limit``. Attach it
        on top of the branch whose rows it counts: when that branch runs
        empty, AQE may drop it from the final plan, and the observation
        then reads as 0 (``observed``)."""
        obs = Observation()
        self._observed.append((stage, key, obs))
        return obs

    def collect_observed(self) -> dict[str, dict[str, float]]:
        """Record every pending observation as a metric; returns the values
        as {stage: {key: value}}. Observations of one (stage, key) count
        parts of one quantity (say, two size tables' hot buckets) and are
        summed. Call after the actions that execute the observed frames
        have run."""
        out: dict[str, dict[str, float]] = {}
        for stage, key, obs in self._observed:
            value = sum(v or 0 for v in observed(obs, f"{stage}.{key}").values())
            per = out.setdefault(stage, {})
            per[key] = per.get(key, 0) + value
        for stage, per in out.items():
            for key, value in per.items():
                self.metric(stage, key, value)
        self._observed = []
        return out

    def recorded(self) -> dict[tuple[str, str], float]:
        """Unflushed metrics as {(stage, key): value} — in-memory view."""
        return {(s, k): v for (_rid, s, k, v, _ts) in self._metric_rows}

    def lineage(self, stage: str, partition_rows: list[tuple[int, int]],
                fingerprint: str) -> None:
        """Buffer one lineage row per (write partition, rows) of a committed
        stage (Checkpointer.partition_rows); ``flush`` appends them."""
        now = datetime.now(timezone.utc)
        self._lineage_rows.extend(
            (self.run_id, stage, pid, rows, fingerprint, now)
            for pid, rows in partition_rows
        )

    def flush(self) -> None:
        """Append the buffered lineage and metric rows, one write per table.
        The frames are built from Arrow batches on the driver: no Python
        worker runs for them."""
        if self.catalog is None:
            return
        for ident, rows, schema in (
            ("lineage", self._lineage_rows, schemas.LINEAGE),
            ("metrics", self._metric_rows, schemas.METRICS),
        ):
            if rows:
                self.catalog.write(_local_frame(self.spark, rows, schema), ident,
                                   mode="append")
        self._lineage_rows = []
        self._metric_rows = []


def observed(obs: Observation, what: str) -> dict:
    """The metrics of ``obs`` ({name: value}), waiting for its action's
    report; ``what`` names it in the error raised if none ever comes.

    ``{}`` when the action ran but its final plan no longer held the
    observed node: AQE replaces a join with an empty relation once one
    side materializes empty, dropping that side's observation with it
    (Spark then reports an empty row). An observation on top of the empty
    side saw no rows."""
    deadline = time.monotonic() + _OBSERVED_WAIT_S
    while not obs._jo.future().isCompleted():
        if time.monotonic() > deadline:
            raise RuntimeError(
                f"observed metric {what} never reported: no action executed "
                "the frame it was attached to")
        time.sleep(0.01)
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def _local_frame(spark: SparkSession, rows: list[tuple],
                 schema: StructType) -> DataFrame:
    """``rows`` as a DataFrame built from one Arrow table on the driver
    (``createDataFrame(list)`` instead ships pickled rows through Python
    workers, cold at a run's end: seconds of task time for a few rows)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.fieldNames(), r)) for r in rows], schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


class StageTimer:
    def __init__(self, rec: Recorder, stage: str):
        self.rec, self.stage = rec, stage

    def __enter__(self):
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.rec.metric(self.stage, "wall_sec", time.time() - self.t0)
        return False
