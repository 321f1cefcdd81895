"""One run object: ``Regime`` decides how a run materializes the frames
it reuses and owns the blocks they leave.

A barrier runs a frame's plan once (one Spark job) and returns a frame
whose logical plan is a single leaf over the materialized blocks.
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
  manager's storage info; ``measured_size_bytes`` returns that number,
  the broadcast gate reads it (``Regime.broadcastable``), and the leaf carries
  it as its Catalyst ``sizeInBytes``, so join planning over the leaf does
  not depend on what the materialized plan contained.
- the release. ``unpersist()`` on the returned frame drops its blocks
  (``DataFrame.unpersist`` alone does nothing on a checkpointed frame).

A regime holds two values, decided once per run (``for_run``):

- ``keep_lineage``: ``barrier`` is ``cache()`` + ``count()``, which keeps
  lineage, so a lost executor's partitions are recomputed. Warehouse
  runs set it: their stages are parquet tables already, and the barriers
  between them stay fault tolerant, which is what those runs are for.
  Otherwise ``barrier`` is the flat barrier over executor-local blocks
  (``localCheckpoint``): an executor lost mid-run takes its blocks along
  and the run fails.
- ``checkpoint_dir`` (``DedupConfig.cc_checkpoint_dir``): every flat
  barrier also writes a reliable checkpoint there, read back from the
  frame's blocks rather than recomputed; release deletes its files.

Every run executes under the session's own conf (AQE on): there is one
physical regime, whatever the corpus size.

Iterative loops (connected components) cut their lineage with
``truncate``: always the flat barrier, reliable when ``checkpoint_dir``
is set, also when ``keep_lineage`` is: cache+count would let the plan
grow every round.

A regime is also the one block lifecycle of the library: every builder
that materializes a frame does it through its caller's regime
(``reused``, ``truncate``, or ``barrier`` with
``release=regime.sweep``) and never releases anything itself. The
caller keeps what it needs past the call by passing it through
``regime.barrier`` (not swept), and the regime releases the rest when
its ``with`` block exits::

    with Regime.for_run(cfg) as regime:
        out = regime.barrier(mh_sh_candidates(feats, cfg, ("simhash",), regime))
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
    """One run's materialization policy (module docstring); the builders
    branch on it, not on flags of their own.

    ``sweep`` collects what the builders materialize, for ``release``,
    which also runs when a ``with regime:`` block exits, failed or not;
    ``hydration`` records each broadcast-hydration decision taken under it
    (``broadcastable``)."""

    def __init__(self, *, checkpoint_dir: str | None = None,
                 keep_lineage: bool = False):
        self.checkpoint_dir = checkpoint_dir
        self.keep_lineage = keep_lineage
        self.sweep: list[DataFrame] = []
        self.hydration: dict[str, dict] = {}

    @classmethod
    def for_run(cls, cfg, warehouse: str | None = None) -> Regime:
        """The regime of a run with config ``cfg``: barriers keep lineage
        when it checkpoints its stages to ``warehouse``; flat barriers and
        ``truncate`` are reliable when ``cfg.cc_checkpoint_dir`` is set."""
        return cls(checkpoint_dir=cfg.cc_checkpoint_dir,
                   keep_lineage=warehouse is not None)

    def barrier(self, df: DataFrame, name: str | None = None,
                release: list | None = None) -> DataFrame:
        """Eagerly materialize ``df``: cache+count with ``keep_lineage``,
        the flat barrier otherwise. ``name`` labels the job
        (``job_label``); ``release`` is the caller's sweep list, which the
        returned frame is appended to."""
        with job_label(df.sparkSession.sparkContext, name):
            if self.keep_lineage:
                out = df.cache()
                out.count()
                out._hsip_measured_bytes = _catalyst_bytes(out)
            else:
                out = _flat(df, self.checkpoint_dir)
        if release is not None:
            release.append(out)
        return out

    def truncate(self, df: DataFrame, name: str | None = None) -> DataFrame:
        """The flat barrier whatever ``keep_lineage`` says, for a loop whose
        plan would otherwise grow every iteration."""
        with job_label(df.sparkSession.sparkContext, name):
            return _flat(df, self.checkpoint_dir)

    def reused(self, df: DataFrame) -> DataFrame:
        """A frame several plan branches scan, through the barrier (AQE
        rebuilds a lazy subtree once per concurrent consumer); it joins
        the sweep."""
        return self.barrier(df, release=self.sweep)

    def broadcastable(self, name: str, df: DataFrame) -> bool:
        """True when ``df`` was measured at or under the session's
        ``spark.sql.autoBroadcastJoinThreshold`` (off when negative): the
        budget Catalyst applied to a materialized cache's measured size
        before the barriers went flat. The decision and the measured bytes
        behind it are kept as ``hydration[name]``, so a run's stats show
        which hydration joins broadcast and why."""
        n = measured_size_bytes(df)
        limit = df.sparkSession._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
        ok = n is not None and 0 <= n <= limit
        self.hydration[name] = {"broadcast": ok, "measured_size_bytes": n}
        return ok

    def release(self) -> None:
        for df in self.sweep:
            df.unpersist()
        self.sweep.clear()

    def __enter__(self) -> Regime:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def measured_size_bytes(df: DataFrame) -> int | None:
    """Bytes ``df`` is known to hold: what the barrier measured for a
    frame that came out of a barrier, or the files' size for a plain
    scan of a file source (a warehouse stage read back as parquet, as
    Catalyst sizes it). None for anything else (a derived or lazy frame,
    or a failed measurement). Gates treat None as "not known small" and
    decline, so the reading is fail-safe."""
    n = getattr(df, "_hsip_measured_bytes", None)
    if n is None and _is_file_scan(df):
        n = _catalyst_bytes(df)
    return n


def _flat(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """The flat barrier: ``df`` over executor-local blocks, or over a
    reliable checkpoint in ``checkpoint_dir`` when one is given."""
    out, rdd, nbytes = _local_flat(df)
    if checkpoint_dir:
        # the reliable leaf inherits the flat leaf's measured stats
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        reliable = out.checkpoint(eager=True)
        _drop_blocks(sc, rdd)
        out, rdd = reliable, reliable._jdf.logicalPlan().rdd()
    out._hsip_measured_bytes = nbytes
    out._hsip_rdd = rdd
    out.unpersist = types.MethodType(_unpersist, out)
    return out


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
    """localCheckpoint ``df`` and return (flat frame, its JVM RDD, stored
    bytes), with the leaf carrying the partitioning the final physical
    plan produced and the stored bytes as its size."""
    spark = df.sparkSession
    jvm = spark._jvm
    jspark = spark._jsparkSession
    of_rows = jvm.org.apache.spark.sql.classic.Dataset.ofRows
    clone = jspark.cloneSession()
    clone.conf().set(_FINAL_STAGE_OPTS, "false")
    jds = of_rows(clone, df._jdf.logicalPlan())
    leaf = jds.localCheckpoint(True).logicalPlan()
    rdd = leaf.rdd()
    nbytes = _stored_bytes(spark.sparkContext, rdd.id())
    plan = jds.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    part = plan.outputPartitioning()
    while part.getClass().getSimpleName() == "PartitioningCollection":
        part = part.partitionings().head()
    if part.numPartitions() != rdd.getNumPartitions():
        part = jvm.org.apache.spark.sql.catalyst.plans.physical \
            .UnknownPartitioning(rdd.getNumPartitions())
    # (session, originStats, originConstraints). Spark's size estimate of
    # the checkpointed plan can be off by orders of magnitude (an observed
    # aggregate under a join estimated 107 GB for 581 KB of blocks), and
    # joins over the leaf would plan on it: size the leaf by its blocks
    copy_args = leaf.otherCopyArgs()
    stats = copy_args.apply(1)
    if nbytes is not None:
        stats = jvm.scala.Some(_sized(spark, stats.get(), nbytes))
    flat = jvm.org.apache.spark.sql.execution.LogicalRDD(
        leaf.output(), rdd, part, leaf.outputOrdering(), leaf.isStreaming(),
        leaf.stream(), jspark, stats, copy_args.apply(2),
    )
    return DataFrame(of_rows(jspark, flat), spark), rdd, nbytes


def _sized(spark, stats, nbytes: int):
    """Catalyst ``stats`` with ``sizeInBytes = nbytes`` and no row count.
    py4j returns a Scala BigInt as a Python int, so the BigInt is built
    on the JVM: a method handle turns a BigInteger into the BigInt that
    ``Statistics.copy`` takes."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName
    big, stats_cls = cls("scala.math.BigInt"), stats.getClass()
    handles, lookup = jvm.java.lang.invoke.MethodHandles, \
        jvm.java.lang.invoke.MethodHandles.publicLookup()
    method_type = jvm.java.lang.invoke.MethodType.methodType
    to_big = lookup.findStatic(big, "apply", method_type(big, [cls("java.math.BigInteger")]))
    copy = lookup.findVirtual(stats_cls, "copy", method_type(stats_cls, [
        big, cls("scala.Option"),
        cls("org.apache.spark.sql.catalyst.expressions.AttributeMap"),
        jvm.java.lang.Boolean.TYPE]))
    filters = spark.sparkContext._gateway.new_array(
        jvm.java.lang.invoke.MethodHandle, 1)
    filters[0] = to_big
    return handles.filterArguments(copy, 1, filters).invokeWithArguments([
        stats, jvm.java.math.BigInteger.valueOf(nbytes), jvm.scala.Option.empty(),
        stats.attributeStats(), stats.isRuntime()])


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
