"""SparkSession factory with the configs the pipeline assumes.

Scale posture (SURVEY.md §4): AQE on (skew-join split + partition
coalescing), Arrow on (every Python crossing is columnar), UTC session
timezone (oracle comparability), shuffle partitions sized to parallelism
and rescaled by the bench harness for the N→4N scaling runs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_FAIR_POOLS = ("mh_sh", "substr")


def _fair_pool_file() -> str:
    """Materialize the FAIR pool definitions the pipeline's channel
    threads use (pipeline._run_channels runs two: hsip-mh_sh and
    hsip-substr).

    Without an allocation file every pool is created ad hoc with
    FIFO/minShare 0/weight 1 (FairSchedulableBuilder warning — VERDICT.md
    r5 blemish 1): the channels still interleave, but nothing guarantees
    a starved channel a share of the task slots. Explicit pools pin
    weight 1 + a small minShare so each channel's short shuffle stages
    are offered slots every scheduling round. Intra-pool mode stays FIFO
    (a channel submits its own jobs sequentially — nothing to reorder).
    """
    pools = "\n".join(
        f'  <pool name="hsip-{p}">\n'
        "    <schedulingMode>FIFO</schedulingMode>\n"
        "    <weight>1</weight>\n"
        "    <minShare>2</minShare>\n"
        "  </pool>" for p in _FAIR_POOLS
    )
    xml = f'<?xml version="1.0"?>\n<allocations>\n{pools}\n</allocations>\n'
    path = os.path.join(tempfile.gettempdir(), "hsip-fairscheduler.xml")
    try:
        with open(path, "w") as f:
            f.write(xml)
    except OSError:
        return ""
    return path


def _local_scratch_dir() -> str:
    """Shuffle/spill scratch for locally-launched sessions.

    The sort shuffle writes per-map temp spill files plus a data+index
    pair per task; on the sandbox's virtio ext4 the per-file fixed cost
    dominates small shuffles (event-log r6: 161 s of summed shuffle-write
    time for ~7k tiny tasks at bench scale — guide §2.1 "local disk
    bandwidth for shuffle files can be the tighter limit"). RAM-backed
    tmpfs removes the file-op floor entirely. Production posture: this
    only applies when get_spark ITSELF launches a local master — under
    spark-submit the cluster manager provides the local dirs (YARN/K8s
    SSD mounts) and this function is never consulted. Override with
    HSIP_LOCAL_DIR; falls back to the Spark default when no tmpfs exists.
    """
    override = os.environ.get("HSIP_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "hsip-spark-local")
    return ""


def get_spark(
    app_name: str = "hsip-dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Under spark-submit the gateway JVM is already up (PythonRunner
    # exports PYSPARK_GATEWAY_PORT) and spark.master / --conf flags live
    # in its conf. Forcing local[*] here would silently override
    # `spark-submit --master yarn` — the exact deployment shape the spec
    # requires (BASELINE.json: "runs via spark-submit --py-files on
    # multi-executor clusters") — so in that mode the builder inherits
    # the submitted master and get_spark only FILLS GAPS: shuffle
    # partitions are derived from the cluster's real parallelism after
    # startup, and only when no --conf pinned them.
    submitted = (
        master is None
        and "HSIP_MASTER" not in os.environ
        and "PYSPARK_GATEWAY_PORT" in os.environ
    )
    master = master or os.environ.get("HSIP_MASTER", "local[*]")
    if shuffle_partitions is None and not submitted:
        # derive from parallelism: 2x cores is a good local-mode default;
        # on a real cluster this is set to ~2-3x total executor cores.
        cores = os.cpu_count() or 8
        if master.startswith("local[") and master[6:-1].isdigit():
            cores = int(master[6:-1])
        elif master.startswith("local-cluster["):
            # local-cluster[nWorkers,coresPerWorker,memMB] — total cores,
            # so the N vs 4N executor runs get proportional partitioning
            # exactly like a real cluster would
            n, c = master[len("local-cluster["):-1].split(",")[:2]
            cores = int(n) * int(c)
        shuffle_partitions = max(8, 2 * cores)

    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # the pipeline submits the three candidate channels as CONCURRENT
        # jobs from separate threads (hsip/pipeline.py); FAIR scheduling
        # lets their many short shuffle stages interleave and backfill
        # idle task slots instead of queueing whole jobs FIFO — the main
        # lever against last-wave straggler idle at small executor counts
        # (BENCH/BASELINE.md decomposition of the 0.60 scaling number)
        .config("spark.scheduler.mode", "FAIR")
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning stays
        # at the Spark DEFAULT (false), deliberately: the engine's
        # repartition(col) tables (bucket/fingerprint tables, pair-pruned
        # features) exist to make ONE exchange feed every consumer leg,
        # and the true setting erases a cached plan's HashPartitioning
        # guarantee, so each pairs_from_buckets leg re-exchanged the full
        # cached table (r6 event log at the 554k-turn rung: 4.7 GB
        # shuffle-written vs 1.8 GB, 75 jobs vs 48, wall 63-77 s vs
        # 41.7 s, alternating A/B recorded in BENCH/ab_r06_session2.json
        # and OPTIMIZATION_r06.md §2.8; bit-identical labels). The flat
        # barriers (hsip/barrier.py) now keep the layout on their own,
        # planning in a session clone with the same final-stage posture
        # the false setting gives the CacheManager; the flag still
        # governs the remaining caches (warehouse runs' cache+count
        # barriers, callers' own caches). The small-corpus task-count
        # problem it once solved is left to AQE's partition coalescing.
        # The bench-scale neutrality A/B (OPTIMIZATION_r06.md §2.8, §3)
        # was measured on the tree before the revert. To re-measure, run
        # bench/eager_rung.py with and without --conf setting this key.
    )
    pool_file = _fair_pool_file()
    if pool_file:
        builder = builder.config("spark.scheduler.allocation.file", pool_file)
    if not submitted:
        builder = builder.master(master)
        # driver memory is a pre-JVM-launch setting: meaningful only when
        # this process starts the JVM; under spark-submit use
        # --driver-memory instead.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("HSIP_DRIVER_MEM", "24g")
        )
        # shuffle scratch on the fastest local storage (pre-JVM-launch
        # setting, local masters only — see _local_scratch_dir)
        scratch = _local_scratch_dir()
        if scratch:
            builder = builder.config("spark.local.dir", scratch)
            if scratch.startswith("/dev/shm"):
                # RAM-backed scratch: shuffle bytes never touch a disk,
                # so lz4-compressing them is pure CPU in the write/read
                # path (guide §2.3 "compression can be pure overhead —
                # measure both"; r6 A/B: 8.4 s vs 9.3 s transcript bench
                # with identical plans). Real clusters (spark-submit)
                # keep the compressed default — their shuffle dirs are
                # disks and cross-node traffic is network-bound.
                builder = builder.config("spark.shuffle.compress", "false")
                builder = builder.config(
                    "spark.shuffle.spill.compress", "false"
                )
        if shuffle_partitions is not None:
            builder = builder.config(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
    elif shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if not submitted and master.startswith(("local", "local-cluster")):
        # Don't hold task slots hostage to cache locality: the pipeline is
        # many short shuffle stages over cached frames, and the 3s default
        # locality wait leaves executors idle for whole task waves
        # (event-log measured: ~8 stages x 6-10s wall at ~0.2s max task
        # time on local-cluster[4,1]). On local masters "remote" reads are
        # loopback, so this is pure win; on REAL clusters (YARN/K8s over
        # HDFS) node-local scheduling matters, so the default is kept
        # there — set spark.locality.wait via extra_conf to tune it.
        builder = builder.config("spark.locality.wait", "0s")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    if (
        submitted
        and shuffle_partitions is None
        and not sc.getConf().contains("spark.sql.shuffle.partitions")
    ):
        # no --conf pinned it: size to the cluster actually granted
        # (defaultParallelism = total executor cores once registered)
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, 2 * sc.defaultParallelism)),
        )
    sc.setLogLevel("WARN")
    return spark
