"""One eager materialization barrier for every frame the engine reuses.

A ``Barrier`` runs a frame's plan once (one Spark job) and returns a
frame whose logical plan is a single leaf over the materialized blocks.
Downstream queries plan over that leaf instead of re-analyzing,
re-optimizing and re-printing the whole upstream tree on every action:
a cache hides *recomputation*, not *plan size* (PLANS.md). The barrier
also stops AQE's concurrent query-stage futures from rebuilding a shared
subtree once per consumer, which is what the eager counts were for.

What the flat barrier keeps from the cache+count barrier it replaces:

- the physical layout. A ``repartition(cols)`` frame keeps its
  HashPartitioning, so the bucket self-joins and hydration joins read it
  with no further exchange. Under AQE, Spark reports no partitioning for
  a checkpointed frame and coalesces its final stage, so the plan runs in
  a session clone with final-stage shuffle optimizations off (the
  posture the CacheManager gives cached plans) and the leaf is rebuilt
  with the partitioning the final physical plan produced.
- the measured size. The leaf's blocks are measured from the block
  manager's storage info; ``measured_size_bytes`` returns that number
  and the broadcast gates read it (``fits_broadcast``).
- the release. ``release`` lists collect the frame for the caller's
  sweep, and ``unpersist()`` on the returned frame drops its blocks
  (``DataFrame.unpersist`` alone does nothing on a checkpointed frame).

How a run's barriers materialize is decided once, by ``Barrier.for_run``:

- ephemeral runs: executor-local blocks (``localCheckpoint``). Lineage is
  truncated by design, so an executor lost mid-run takes its blocks along
  and the run fails. With ``DedupConfig.cc_checkpoint_dir`` set, every
  barrier also writes a reliable checkpoint there, read back from the
  frame's blocks rather than recomputed; release deletes its files.
- warehouse runs: ``cache()`` + ``count()``, which keeps lineage, so a
  lost executor's partitions are recomputed. Their stages are parquet
  tables already; the barriers between them stay fault tolerant, which
  is what those runs are for.

Connected components always truncates (``Barrier(checkpoint_dir)``): its
plan grows each round otherwise.

Whether a run places its nested barriers at all (eager) or keeps lazy
caches under a latency conf is decided once too, by ``Regime.for_run``.
"""

from __future__ import annotations

import contextlib
import types

from pyspark.sql import DataFrame

_FINAL_STAGE_OPTS = "spark.sql.adaptive.applyFinalStageShuffleOptimizations"


@contextlib.contextmanager
def job_label(sc, name: str | None):
    """Describe the jobs this thread submits as ``hsip:<name>``, the key
    the per-stage ledger attributes them by; the thread's previous label
    comes back on exit. ``name=None`` keeps the current label, so a
    barrier inside a pipeline stage is billed to that stage."""
    if name is None:
        yield
        return
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"hsip:{name}")
    try:
        yield
    finally:
        sc.setJobDescription(prev)


class Barrier:
    """How eager barriers materialize (module docstring). Calling it
    materializes a frame.

    ``checkpoint_dir`` adds a reliable checkpoint to the flat barrier;
    ``keep_lineage`` uses cache+count instead (no flat plan)."""

    def __init__(self, checkpoint_dir: str | None = None,
                 keep_lineage: bool = False):
        self.checkpoint_dir = checkpoint_dir
        self.keep_lineage = keep_lineage

    @classmethod
    def for_run(cls, cfg, warehouse: str | None = None) -> Barrier:
        """The policy for a pipeline run with config ``cfg``: cache+count
        when it checkpoints its stages to ``warehouse``, the flat barrier
        otherwise (reliable when ``cfg.cc_checkpoint_dir`` is set)."""
        if warehouse is not None:
            return cls(keep_lineage=True)
        return cls(cfg.cc_checkpoint_dir)

    def __call__(self, df: DataFrame, name: str | None = None,
                 release: list | None = None) -> DataFrame:
        """Eagerly materialize ``df``. ``name`` labels the job
        (``job_label``); ``release`` is the caller's sweep list, which the
        returned frame is appended to."""
        sc = df.sparkSession.sparkContext
        with job_label(sc, name):
            if self.keep_lineage:
                out = df.cache()
                out.count()
                out._hsip_measured_bytes = _catalyst_bytes(out)
            else:
                out = self._flat(df, sc)
        if release is not None:
            release.append(out)
        return out

    def _flat(self, df: DataFrame, sc) -> DataFrame:
        out, rdd = _local_flat(df)
        nbytes = _stored_bytes(sc, rdd.id())
        if self.checkpoint_dir:
            sc.setCheckpointDir(self.checkpoint_dir)
            reliable = out.checkpoint(eager=True)
            _drop_blocks(sc, rdd)
            out, rdd = reliable, reliable._jdf.logicalPlan().rdd()
        out._hsip_measured_bytes = nbytes
        out._hsip_rdd = rdd
        out.unpersist = types.MethodType(_unpersist, out)
        return out


@contextlib.contextmanager
def session_conf(spark, overrides: dict[str, str]):
    """Set ``overrides`` for the block; the previous values (or unset)
    come back on exit, failed or not: sessions run many pipelines."""
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class Regime:
    """One pipeline run's physical regime, decided once from its document
    count (``for_run``); the builders branch on it, not on flags of their own.

    - eager (``n_docs >= cfg.eager_barrier_min_docs``): reused frames and
      bucket join-backs pass the run's barrier; the session conf is kept.
    - latency (``width`` set): the chains are dozens of tiny exchanges,
      and under AQE each becomes its own query-stage job — a serial floor
      of driver round-trips no executor count amortizes. Reused frames
      are lazy caches, join-backs stay lazy, and the run executes with
      AQE off at ``width`` shuffle partitions (~500 docs each, floor 8,
      capped at the session's own width).

    ``sweep`` collects what the builders materialize, for ``release``."""

    def __init__(self, barrier: Barrier, width: int | None = None):
        self.barrier = barrier
        self.width = width
        self.eager = width is None
        self.sweep: list[DataFrame] = []

    @classmethod
    def for_run(cls, spark, cfg, n_docs: int, barrier: Barrier) -> Regime:
        if n_docs >= cfg.eager_barrier_min_docs:
            return cls(barrier)
        ambient = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        return cls(barrier, width=max(8, min(ambient, -(-n_docs // 500))))

    def reused(self, df: DataFrame) -> DataFrame:
        """A frame several plan branches scan: a barrier when eager (AQE
        rebuilds a lazy subtree once per concurrent consumer), a lazy cache
        in latency mode (cheaper than the extra job at that size)."""
        if self.eager:
            return self.barrier(df, release=self.sweep)
        out = df.cache()
        self.sweep.append(out)
        return out

    def join_back(self, df: DataFrame) -> DataFrame:
        """A bucket-size join-back: materialized for its pair legs when eager."""
        return self.barrier(df, release=self.sweep) if self.eager else df

    def spread(self, df: DataFrame) -> DataFrame:
        """Latency mode: re-spread narrow pair rows to the core count before a
        CPU-bound verify projection, which would otherwise run ``width`` wide."""
        if self.eager:
            return df
        return df.repartition(max(df.sparkSession.sparkContext.defaultParallelism, 8))

    def release(self) -> None:
        for df in self.sweep:
            df.unpersist()
        self.sweep.clear()

    @contextlib.contextmanager
    def applied(self, spark, base: DataFrame):
        """Run the block under this regime, yielding the view of ``base`` the
        channels scan: in latency mode coalesced to ``width`` (narrow, no
        shuffle), so scans don't schedule dozens of near-empty tasks. On
        exit, failed or not, the conf is restored and the sweep and
        ``base`` release their blocks."""
        view, conf = base, {}
        if not self.eager:
            conf = {"spark.sql.adaptive.enabled": "false",
                    "spark.sql.shuffle.partitions": str(self.width)}
            if base.rdd.getNumPartitions() > 2 * self.width:
                view = base.coalesce(self.width)
        try:
            with session_conf(spark, conf):
                yield view
        finally:
            self.release()
            base.unpersist()


def measured_size_bytes(df: DataFrame) -> int | None:
    """Bytes ``df`` is known to hold: what the barrier measured for a
    frame that came out of a ``Barrier``, or the files' size for a plain
    scan of a file source (a warehouse stage read back as parquet, as
    Catalyst sizes it). None for anything else (a derived or lazy frame,
    or a failed measurement). Gates treat None as "not known small" and
    decline, so the reading is fail-safe."""
    n = getattr(df, "_hsip_measured_bytes", None)
    if n is None and _is_file_scan(df):
        n = _catalyst_bytes(df)
    return n


def fits_broadcast(df: DataFrame, limit: int | None = None) -> bool:
    """True when ``df`` was measured at or under ``limit`` bytes. The
    default limit is the session's ``spark.sql.autoBroadcastJoinThreshold``
    (off when negative): the budget Catalyst applied to a materialized
    cache's measured size before the barriers went flat."""
    n = measured_size_bytes(df)
    if limit is None:
        limit = df.sparkSession._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
    return n is not None and 0 <= n <= limit


def _unpersist(self: DataFrame, blocking: bool = False) -> DataFrame:
    # the SparkContext call RDD.unpersist makes, minus its warning that a
    # locally checkpointed RDD cannot be recomputed: no consumer is left
    sc = self.sparkSession.sparkContext
    _drop_blocks(sc, self._hsip_rdd, blocking)
    _delete_checkpoint_files(sc, self._hsip_rdd)
    return self


def _drop_blocks(sc, rdd, blocking: bool = False) -> None:
    sc._jsc.sc().unpersistRDD(rdd.id(), blocking)


def _delete_checkpoint_files(sc, rdd) -> None:
    """Delete a reliable checkpoint's files (no-op for local blocks):
    Spark keeps them unless ``cleanCheckpoints`` is on, so runs would
    pile corpus-sized copies up in the checkpoint directory."""
    f = rdd.getCheckpointFile()
    if f.isEmpty():
        return
    path = sc._jvm.org.apache.hadoop.fs.Path(f.get())
    path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def _local_flat(df: DataFrame):
    """localCheckpoint ``df`` and return (flat frame, its JVM RDD), with
    the leaf carrying the partitioning the final physical plan produced."""
    spark = df.sparkSession
    jvm = spark._jvm
    jspark = spark._jsparkSession
    of_rows = jvm.org.apache.spark.sql.classic.Dataset.ofRows
    clone = jspark.cloneSession()
    clone.conf().set(_FINAL_STAGE_OPTS, "false")
    jds = of_rows(clone, df._jdf.logicalPlan())
    leaf = jds.localCheckpoint(True).logicalPlan()
    rdd = leaf.rdd()
    plan = jds.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    part = plan.outputPartitioning()
    while part.getClass().getSimpleName() == "PartitioningCollection":
        part = part.partitionings().head()
    if part.numPartitions() != rdd.getNumPartitions():
        part = jvm.org.apache.spark.sql.catalyst.plans.physical \
            .UnknownPartitioning(rdd.getNumPartitions())
    # (session, originStats, originConstraints): keep Spark's own stats
    copy_args = leaf.otherCopyArgs()
    flat = jvm.org.apache.spark.sql.execution.LogicalRDD(
        leaf.output(), rdd, part, leaf.outputOrdering(), leaf.isStreaming(),
        leaf.stream(), jspark, copy_args.apply(1), copy_args.apply(2),
    )
    return DataFrame(of_rows(jspark, flat), spark), rdd


def _stored_bytes(sc, rdd_id: int) -> int | None:
    """Memory + disk bytes the block manager holds for RDD ``rdd_id``."""
    try:
        for info in sc._jsc.sc().getRDDStorageInfo():
            if info.id() == rdd_id:
                return int(info.memSize() + info.diskSize())
    except Exception:  # pragma: no cover - py4j edge: decline, don't fail
        return None
    return None


def _catalyst_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes: real batch bytes for a materialized cache,
    the files' size for a file scan."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - py4j edge: decline, don't fail
        return None


def _is_file_scan(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is projections/filters over one
    file-source relation (what ``Catalog.read`` returns for parquet)."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while node.getClass().getSimpleName() in ("Project", "Filter"):
            node = node.child()
        return (node.getClass().getSimpleName() == "LogicalRelation"
                and node.relation().getClass().getSimpleName() == "HadoopFsRelation")
    except Exception:  # pragma: no cover - py4j edge: decline, don't fail
        return False
