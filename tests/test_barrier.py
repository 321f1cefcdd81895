"""The run object (hsip/barrier.py Regime): a barrier is one job, a flat
leaf that keeps the hash layout, measured bytes for the broadcast gates
and a release that actually drops the blocks; the per-run policy (flat,
reliable, or cache+count for warehouse runs, and the truncating barrier
of iterative loops) and the width taken from the run's size."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from hsip.barrier import Regime, measured_size_bytes, session_conf
from hsip.config import DedupConfig

materialize = Regime().barrier  # the ephemeral default: executor-local blocks


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _posture(out) -> tuple[bool, bool]:
    """(lineage kept, reliable checkpoint) of a barrier's output."""
    rdd = getattr(out, "_hsip_rdd", None)
    return (out.storageLevel.useMemory,
            rdd is not None and rdd.getCheckpointFile().isDefined())


def _keyed(spark, n=2000):
    return spark.range(n).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )


def test_materialize_is_flat_and_keeps_rows(spark):
    src = _keyed(spark).filter(F.col("v") % 3 == 0)
    out = materialize(src)
    try:
        assert out._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD"
        assert sorted(out.collect()) == sorted(src.collect())
    finally:
        out.unpersist()


def test_materialize_keeps_hash_layout_under_aqe(spark):
    """A repartition(col) frame reads back hash-partitioned: the bucket
    size groupBy and the self-join on the key plan no exchange, the
    one-exchange contract the bucket and hydration tables rely on (with
    AQE on, a plain localCheckpoint reports no partitioning and coalesces
    its final stage)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def self_pairs(df):
        x, y = df.alias("x"), df.alias("y")
        return x.join(y, (F.col("x.k") == F.col("y.k")) & (F.col("x.v") < F.col("y.v")))

    src = _keyed(spark).repartition("k")
    t = materialize(src)
    try:
        assert t.rdd.getNumPartitions() == int(spark.conf.get("spark.sql.shuffle.partitions"))
        sizes = t.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        for q in (sizes, t.join(sizes, "k"), self_pairs(t)):
            assert not re.search(r"Exchange hashpartitioning", _plan(q)), _plan(q)
        assert self_pairs(t).count() == self_pairs(src).count()
    finally:
        t.unpersist()


def test_measured_size_bytes_reads_the_barrier(spark):
    """Small real number for a materialized frame; None for anything else
    (lazy, derived or cached frames) — the fail-safe input the gates
    decline on."""
    src = _keyed(spark, 500)
    out = materialize(src)
    try:
        n = measured_size_bytes(out)
        assert isinstance(n, int) and 0 < n < 1024 * 1024
        assert measured_size_bytes(src) is None
        assert measured_size_bytes(out.select("k")) is None
        cached = src.cache()
        cached.count()
        assert measured_size_bytes(cached) is None
        cached.unpersist()
    finally:
        out.unpersist()


def test_broadcastable_gate(spark):
    """The gate reads the session's autoBroadcastJoinThreshold: at or
    under it broadcasts, one byte over declines, negative is off."""
    regime = Regime()
    out = materialize(_keyed(spark, 500))
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    try:
        n = measured_size_bytes(out)
        assert regime.broadcastable("default", out)  # session threshold: 32 MB
        with session_conf(spark, {threshold: str(n)}):
            assert regime.broadcastable("at", out)
        with session_conf(spark, {threshold: str(n - 1)}):
            assert not regime.broadcastable("over", out)
        with session_conf(spark, {threshold: "-1"}):
            assert not regime.broadcastable("off", out)  # broadcasts disabled
        # unmeasured: decline
        assert not regime.broadcastable("lazy", _keyed(spark, 500))
    finally:
        out.unpersist()


def test_unpersist_drops_the_blocks_and_release_list(spark):
    before = _persisted(spark)
    sweep: list = []
    out = materialize(_keyed(spark, 100), release=sweep)
    assert sweep == [out]
    assert len(_persisted(spark) - before) == 1
    out.unpersist()
    assert _persisted(spark) - before == set()


def test_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir: rows come back from the reliable checkpoint, the
    executor-local blocks are dropped, layout and measured bytes kept;
    release deletes the checkpoint's files."""
    before = _persisted(spark)
    src = _keyed(spark, 300).repartition("k")
    out = Regime(checkpoint_dir=str(tmp_path / "ckpt")).barrier(src)
    assert _persisted(spark) - before == set()
    assert measured_size_bytes(out) > 0
    assert sorted(out.collect()) == sorted(src.collect())
    assert not re.search(r"Exchange hashpartitioning",
                         _plan(out.groupBy("k").count()))
    assert any((tmp_path / "ckpt").rglob("part-*"))
    out.unpersist()
    assert not any((tmp_path / "ckpt").rglob("part-*"))


def test_keep_lineage_is_cache_and_count(spark):
    """The warehouse-run barrier: a materialized cache (lineage kept, so a
    lost executor's partitions recompute), measured from Catalyst's stats
    of the populated cache, released by the ordinary unpersist()."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    src = _keyed(spark, 500).repartition("k")
    sweep: list = []
    out = Regime(keep_lineage=True).barrier(src, release=sweep)
    try:
        assert sweep == [out]
        assert out.storageLevel.useMemory
        assert cm.lookupCachedData(out._jdf).isDefined()
        n = measured_size_bytes(out)
        assert isinstance(n, int) and 0 < n < 1024 * 1024
        assert Regime().broadcastable("cached", out)
    finally:
        out.unpersist()
    assert cm.lookupCachedData(src._jdf).isEmpty()


def test_barrier_policy_for_run(spark, tmp_path):
    """One decision per run, for every combination of warehouse and
    cc_checkpoint_dir: ``barrier`` keeps lineage in warehouse runs whatever
    cc_checkpoint_dir says, and is flat in ephemeral runs, reliable when
    cc_checkpoint_dir is set; ``truncate`` is flat in both, reliable when
    cc_checkpoint_dir is set. Releasing either drops what it made."""
    src = _keyed(spark, 200)
    before = _persisted(spark)
    for warehouse in (None, "/wh"):
        for ckpt in (None, str(tmp_path / "ckpt")):
            regime = Regime.for_run(DedupConfig(cc_checkpoint_dir=ckpt), warehouse)
            with regime:
                b = regime.barrier(src, release=regime.sweep)
                t = regime.truncate(src)
                regime.sweep.append(t)
                combo = (warehouse, ckpt)
                assert _posture(b) == (warehouse is not None,
                                       warehouse is None and ckpt is not None), combo
                assert _posture(t) == (False, ckpt is not None), combo
                assert b.count() == t.count() == 200
            assert _persisted(spark) == before, combo
            assert _cache_empty(spark), combo
    assert not any(tmp_path.rglob("part-*"))


def test_measured_size_bytes_reads_parquet_scans(spark, tmp_path):
    """A plain scan of parquet files (a warehouse stage read back) is
    sized from its files, as Catalyst sizes it; a derived frame over the
    same scan is not known small."""
    path = str(tmp_path / "t")
    _keyed(spark, 500).write.parquet(path)
    t = spark.read.parquet(path)
    n = measured_size_bytes(t)
    files = sum(p.stat().st_size for p in (tmp_path / "t").glob("part-*"))
    assert n == files
    assert measured_size_bytes(t.filter(F.col("k") > 3).select("v")) is not None
    assert measured_size_bytes(t.groupBy("k").count()) is None
    assert measured_size_bytes(t.join(t, "k")) is None


def test_job_label_restores_the_outer_label(spark):
    from hsip.barrier import job_label

    sc = spark.sparkContext
    with job_label(sc, "outer"):
        with job_label(sc, "inner"):
            assert sc.getLocalProperty("spark.job.description") == "hsip:inner"
        with job_label(sc, None):
            assert sc.getLocalProperty("spark.job.description") == "hsip:outer"
        assert sc.getLocalProperty("spark.job.description") == "hsip:outer"
    assert sc.getLocalProperty("spark.job.description") is None


def test_regime_records_broadcast_hydration_decisions(spark):
    """Regime.broadcastable keeps each decision with the measured bytes
    behind it, for the run's stats: a measured small frame is taken, an
    unmeasured (lazy) one declined with None, and a session threshold
    under the measured size declines."""
    regime = Regime()
    small = regime.reused(_keyed(spark, 500))
    try:
        n = measured_size_bytes(small)
        assert regime.broadcastable("a", small)
        assert not regime.broadcastable("b", _keyed(spark, 500))
        with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": str(n - 1)}):
            assert not regime.broadcastable("c", small)
        assert regime.hydration == {
            "a": {"broadcast": True, "measured_size_bytes": n},
            "b": {"broadcast": False, "measured_size_bytes": None},
            "c": {"broadcast": False, "measured_size_bytes": n},
        }
    finally:
        regime.release()


def test_regime_block_releases_its_sweep_not_what_the_caller_kept(spark):
    """``with Regime(...)`` releases what the builders put on the sweep;
    a frame the caller passed through ``regime.barrier`` survives."""
    from hsip.barrier import Regime

    before = _persisted(spark)
    with Regime() as regime:
        kept = regime.barrier(_keyed(spark, 100))
        regime.reused(_keyed(spark, 100))
        assert len(_persisted(spark) - before) == 2
    assert _persisted(spark) - before == {kept._hsip_rdd.id()}
    assert kept.count() == 100
    kept.unpersist()
    assert _persisted(spark) == before


def test_flat_leaf_carries_measured_size(spark, tmp_path):
    """The leaf's Catalyst size is the barrier's measured bytes, for the
    flat and the reliable barrier, so joins over it plan on what it
    holds. Spark's estimate of the materialized plan can be far off: an
    observed aggregate under a join (the bucket join-back's shape, its
    hot-bucket counts observed on the size table) inflates it."""
    from pyspark.sql import Observation

    src = _keyed(spark, 2000)
    sizes = src.groupBy("k").agg(F.count(F.lit(1)).alias("n")) \
        .observe(Observation(), F.count_if(F.col("n") > 3).alias("hot"))
    tagged = src.join(sizes, "k")
    for barrier in (materialize, Regime(checkpoint_dir=str(tmp_path / "ckpt")).barrier):
        out = barrier(tagged)
        try:
            size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            assert size == measured_size_bytes(out) > 0
        finally:
            out.unpersist()
