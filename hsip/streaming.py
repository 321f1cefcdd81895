"""Structured Streaming ingestion: continuous transcript arrival ->
incremental dedup against the persisted index.

The production pipeline is resumable BATCH (north_rule), but ongoing
ingestion maps naturally onto Structured Streaming: a file/Kafka stream
of turns is micro-batched, each batch is reassembled + featurized, and
``foreachBatch`` runs the same incremental delta-vs-index logic as
hsip/incremental.py.

Exactly-once: foreachBatch is at-least-once, so every appended row
carries ``batch_id`` and three guards make replays true no-ops
(ADVICE.md r1): (1) a ``stream.batches`` marker table, appended LAST —
a replayed batch whose marker exists is skipped outright; (2) if the
marker is missing but a previous attempt died mid-way, each append
anti-joins against rows already present, so partial writes are
completed, not duplicated; (3) the streaming checkpoint itself replays
at most the last unfinished batch. On an Iceberg deployment guard (2)
becomes a MERGE / DELETE WHERE batch_id=N + append inside one snapshot
commit.

Scale + re-arrival semantics (VERDICT.md r2 item 6, ADVICE.md r2):
  - index/verified tables are written hive-partitioned by ``batch_id``,
    so every replay-guard read prunes to ONE partition instead of
    scanning all table footers as the index grows (the Iceberg path
    gets the same via an identity partition transform).
  - a conv_id re-arriving in a LATER batch (updated conversation)
    legitimately appends a new feature/band version; readers resolve
    each id to its LATEST (stream_id, batch_id) version via
    ``latest_index_versions`` — the append-only analogue of an Iceberg
    MERGE upsert — so verification is deterministic, never an arbitrary
    dropDuplicates pick.
  - ``stream.verified`` dedups pairs across the WHOLE stream (anti-join
    on (a, b) over all batches), so a pair re-derived after an update
    does not inflate pair-level reporting; the table is partitioned by
    ``pair_bucket = pmod(xxhash64(a, b), N)`` and the guard scans only
    the delta's buckets, so per-batch cost is bounded by the delta, not
    by stream lifetime (VERDICT.md r3 item 2; Iceberg: MERGE into a
    bucket(N, a, b)-partitioned table).

Also provides a watermarked windowed aggregation (turn-rate metrics)
demonstrating late-data handling for the metrics side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .barrier import Regime
from .catalog import Catalog
from .config import DedupConfig
from .incremental import incremental_verified_pairs
from .lsh import band_table
from .textkernel import featurize


def stream_turns(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-arrival stream of transcript turns (authoritative schema)."""
    return (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def dedup_turn_deliveries(turns_stream: DataFrame,
                          watermark: str = "30 minutes",
                          keys: list[str] | None = None) -> DataFrame:
    """Drop redelivered copies of the same turn version at the source:
    ``dropDuplicatesWithinWatermark`` keeps ONE row per
    (conv_id, turn_idx, text) seen within the watermark horizon, with
    state BOUNDED by that horizon — plain ``dropDuplicates`` on a stream
    keys state forever, which at 10^12 turns is an OOM by design.

    This trims duplicate *deliveries* (at-least-once sources, producer
    retries) before they cost featurization downstream; true duplicates
    arriving beyond the horizon are still caught by the foreachBatch
    replay guard's idempotent index appends, so correctness never
    depends on the horizon — only efficiency does."""
    return turns_stream.withWatermark("ts", watermark) \
        .dropDuplicatesWithinWatermark(keys or ["conv_id", "turn_idx", "text"])


def turn_rate_metrics(turns_stream: DataFrame, window: str = "10 minutes",
                      watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window turn counts (late data beyond the
    watermark is dropped; state is bounded)."""
    return (
        turns_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )


def latest_index_versions(idx: DataFrame, keys: list[str]) -> DataFrame:
    """Resolve each key to its newest appended version.

    Append-only index tables accumulate one row-version per (stream,
    batch) a key re-arrives in — groupBy + join-back (map-side combine,
    skew-safe), never a window sort. This is the parquet-append analogue
    of reading an Iceberg table maintained by MERGE upserts.

    Version order is (ingested_at, batch_id, stream_id): batch ids are
    only monotone WITHIN one checkpoint lineage, so after a restart with
    a fresh checkpoint dir (batch ids reset to 0) ordering on batch_id
    alone would resolve re-arrived keys to the OLD lineage's stale rows
    forever. The commit wall-clock stamped at append time orders across
    lineages; batch_id/stream_id only break (sub-microsecond) ties.
    Tables written before ingested_at existed fall back to the old
    (batch_id, stream_id) order — and a table MIGRATED to the new
    schema (mergeSchema) carries NULL ingested_at on its legacy rows.
    Those order correctly under the struct max already (NULL sorts
    lowest, so any stamped version beats a legacy one), but the
    join-back must be NULL-SAFE: an equi-join on ingested_at would
    silently drop every key whose latest version is a legacy row
    (NULL != NULL), removing its features/bands from the incremental
    index and missing duplicates against it (ADVICE.md r5, medium).
    """
    order_cols = (["ingested_at"] if "ingested_at" in idx.columns else []) \
        + ["batch_id", "stream_id"]
    latest = idx.groupBy(*keys).agg(
        F.max(F.struct(*order_cols)).alias("_v")
    ).select(*keys, *[F.col(f"_v.{c}").alias(c) for c in order_cols])
    i, l = idx.alias("i"), latest.alias("l")
    cond = None
    for c in [*keys, *order_cols]:
        eq = F.col(f"i.{c}").eqNullSafe(F.col(f"l.{c}"))
        cond = eq if cond is None else cond & eq
    return i.join(l, cond, "left_semi")


# hash-bucket fan-out of stream-scoped dedup tables (stream.verified):
# small enough that one bucket directory is a meaningful fraction of the
# table, large enough that a small delta prunes most of it.  On Iceberg
# this is `bucket(N, a, b)` in the partition spec.
N_PAIR_BUCKETS = 32


def pruned_prior(catalog: Catalog, ident: str, delta: DataFrame,
                 keys: list[str], stream_id: str, scope: str = "stream",
                 batch_id: int | None = None) -> DataFrame:
    """Prior-rows frame for the replay guard, pruned to what the delta
    can possibly collide with.

    batch scope prunes on the batch_id partition (one directory);
    stream scope prunes on the pair_bucket partitions the DELTA's keys
    hash into — a small delta touches few buckets, so the anti-join scan
    is bounded by the delta's key spread instead of growing with the
    stream's life (VERDICT.md r3 item 2).  The bucket list is a
    driver-side collect of at most N_PAIR_BUCKETS ints (metadata scale,
    not row data).
    """
    prior = catalog.read(ident).filter(F.col("stream_id") == stream_id)
    if scope == "batch":
        return prior.filter(F.col("batch_id") == batch_id)
    buckets = [r[0] for r in delta.select("pair_bucket").distinct().collect()]
    return prior.filter(F.col("pair_bucket").isin(buckets))


def run_incremental_ingest(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    cfg: DedupConfig,
    available_now: bool = True,
):
    """Drain the stream, matching each micro-batch against the persisted
    index and growing the index — same semantics as repeated incremental
    batch runs, with streaming-checkpoint exactly-once bookkeeping.

    Index tables in the warehouse: ``index.features``, ``index.bands``;
    verified delta pairs appended to ``stream.verified``.
    """
    catalog = Catalog(spark, warehouse)
    # batch ids are only unique within one streaming checkpoint lineage,
    # so replay bookkeeping is keyed (stream_id, batch_id)
    stream_id = checkpoint_dir

    def _append_once(df: DataFrame, ident: str, keys: list[str], batch_id: int,
                     scope: str = "batch") -> None:
        """Idempotent append: skip rows already committed.

        scope="batch"  — anti-join prior rows of THIS (stream, batch)
                         only: completes a partial write after a failed
                         attempt without duplicating it, while allowing a
                         re-arriving key in a later batch to append a new
                         VERSION (readers resolve latest; see
                         latest_index_versions). Partitioned by batch_id,
                         so the guard read prunes to ONE partition —
                         O(one batch), not O(index).
        scope="stream" — anti-join prior rows of the whole stream on the
                         keys: first occurrence wins across batches (used
                         for stream.verified, where a re-derived pair is
                         a duplicate, not a version). Partitioned by
                         pair_bucket = pmod(xxhash64(keys), N) and the
                         guard read prunes to the DELTA's buckets
                         (VERDICT.md r3 item 2) — bounded by the delta's
                         key spread, not by stream lifetime; on Iceberg
                         this whole append-once is a MERGE into a table
                         bucketed by bucket(N, a, b).
        """
        cached = None
        if scope == "stream":
            df = df.withColumn(
                "pair_bucket",
                F.pmod(F.xxhash64(*keys), F.lit(N_PAIR_BUCKETS)),
            ).cache()
            cached = df  # df is rebound below; unpersist THIS frame
        if catalog.exists(ident):
            prior = pruned_prior(catalog, ident, df, keys, stream_id,
                                 scope=scope, batch_id=batch_id)
            df = df.join(prior.select(keys), keys, "left_anti")
        part = ["pair_bucket"] if scope == "stream" else ["batch_id"]
        # evolve_schema: index tables created before ingested_at existed
        # must keep accepting appends after an engine upgrade — without
        # it the first post-upgrade batch hits the schema-drift
        # ValueError and halts ingest (ADVICE.md r5, medium). Legacy
        # rows read back with NULL ingested_at, which
        # latest_index_versions orders and joins null-safely.
        catalog.write(df, ident, mode="append", partition_by=part,
                      evolve_schema=True)
        if cached is not None:
            cached.unpersist()

    def process_batch(batch_turns: DataFrame, batch_id: int) -> None:
        if batch_turns.isEmpty():
            return
        # replayed batch whose commit marker exists: true no-op
        if catalog.exists("stream.batches"):
            committed = (
                catalog.read("stream.batches")
                .filter(
                    (F.col("batch_id") == batch_id)
                    & (F.col("stream_id") == stream_id)
                )
                .count()
            )
            if committed:
                return
        from .reassemble import dedupe_turn_versions, reassemble

        convs = reassemble(dedupe_turn_versions(batch_turns)).select(
            "conv_id", "doc_text"
        )
        # one regime per micro-batch: its blocks keep lineage (cache +
        # count), so a lost executor's partitions are recomputed, and are
        # released once the batch has committed
        with Regime(keep_lineage=True) as regime:
            new_feats = regime.reused(featurize(convs, "conv_id", "doc_text", cfg))
            # built ONCE, reused for candidates and the index append
            new_bands = regime.reused(band_table(new_feats.select("id", "sig"), cfg))
            if catalog.exists("index.features"):
                # resolve re-arrived conv_ids to their latest feature/band
                # version — deterministic, not an arbitrary dropDuplicates
                idx_feats = latest_index_versions(catalog.read("index.features"), ["id"])
                idx_bands = latest_index_versions(catalog.read("index.bands"), ["id"])
            else:
                idx_feats = spark.createDataFrame([], new_feats.schema)
                idx_bands = spark.createDataFrame([], new_bands.schema)
            verified = incremental_verified_pairs(
                convs, "conv_id", "doc_text", idx_feats, idx_bands, cfg, regime,
                new_feats=new_feats, new_bands=new_bands,
            ).withColumn("batch_id", F.lit(batch_id)).withColumn(
                "stream_id", F.lit(stream_id)
            )
            bid = F.lit(batch_id).alias("batch_id")
            sid = F.lit(stream_id).alias("stream_id")
            # commit wall-clock: orders row versions ACROSS checkpoint
            # lineages (latest_index_versions), where batch ids restart
            ts = F.current_timestamp().alias("ingested_at")
            _append_once(
                verified.filter("verdict"), "stream.verified", ["a", "b"], batch_id,
                scope="stream",  # a re-derived pair is a duplicate, not a version
            )
            _append_once(
                new_feats.select("*", bid, sid, ts), "index.features", ["id"],
                batch_id,
            )
            _append_once(
                new_bands.select("*", bid, sid, ts), "index.bands",
                ["id", "band_id", "band_hash"], batch_id,
            )
            catalog.write(
                spark.createDataFrame(
                    [(stream_id, batch_id)], "stream_id string, batch_id long"
                ),
                "stream.batches", mode="append",
            )

    writer = (
        stream_turns(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


# ---------------------------------------------------------------------------
# custom stateful operator: streaming conversation reassembly (U-state)
# ---------------------------------------------------------------------------

REASSEMBLED_SCHEMA = (
    "conv_id string, n_turns int, first_ts timestamp, last_ts timestamp, "
    "doc_text string"
)
_STATE_SCHEMA = (
    "turn_idx array<int>, ts_us array<long>, texts array<string>, last_us long"
)


def stateful_reassemble(turns_stream: DataFrame, idle_gap_s: int = 1800,
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming C1+C2: applyInPandasWithState conversation reassembly.

    Turns for a conversation arrive spread across micro-batches; this
    operator buffers them in per-conv_id group state and emits ONE
    reassembled conversation row when the conversation goes idle — its
    event-time timeout (last turn ts + ``idle_gap_s``) falls behind the
    watermark. Semantics mirror the batch path (reassemble.py):
    duplicated (conv_id, turn_idx) keeps the latest-ts version, with
    exact-ts collisions tie-broken on lexicographic-max text — the SAME
    rule as batch ``dedupe_turn_versions``, so both paths keep the same
    surviving row (pinned by test_streaming.py) — and doc_text joins
    turn texts in turn_idx order with "\\n" (C2).

    Late-data caveat (append-mode semantics, not a bug): a turn arriving
    for a conversation AFTER its timeout emission re-creates state and,
    when that state later times out, emits a SECOND row for the same
    conv_id containing only the post-emission turns. Append-mode
    stateful output cannot retract; downstream consumers that need
    exactly-one-row-per-conv_id must re-apply the batch C1+C2 path over
    the union (the idempotent-sink pattern in this module) or size
    ``idle_gap_s``/``watermark`` above the real late-arrival horizon.

    Scale shape: state per key is O(turns of ONE conversation) and is
    dropped at emission; the watermark bounds total state to
    conversations active within the watermark horizon. This is the
    custom-stateful-operator surface (applyInPandasWithState +
    GroupStateTimeout.EventTimeTimeout) that foreachBatch cannot
    express per-key incrementally.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = int(idle_gap_s) * 1000

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            ti, ts_us, texts, _last = state.get
            state.remove()
            buf = pd.DataFrame({"ti": ti, "ts": ts_us, "text": texts})
            # C1: per turn_idx keep the latest-ts version (deterministic
            # text tie-break on exact-ts collisions), ordered by turn_idx
            kept = (
                buf.sort_values(["ti", "ts", "text"], kind="stable")
                .groupby("ti", sort=True)
                .last()
            )
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": np.array([len(kept)], dtype="int32"),
                    "first_ts": [pd.Timestamp(int(kept["ts"].min()), unit="us")],
                    "last_ts": [pd.Timestamp(int(kept["ts"].max()), unit="us")],
                    # NULL text -> empty slot, matching batch reassemble
                    "doc_text": ["\n".join(kept["text"].fillna(""))],
                }
            )
            return
        ti, ts_us, texts, last = (list(state.get) if state.exists
                                  else ([], [], [], 0))
        for pdf in pdfs:
            ti.extend(int(x) for x in pdf["turn_idx"])
            # unit-safe: normalize whatever datetime64 unit Arrow handed us
            us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            ts_us.extend(int(x) for x in us)
            texts.extend(pdf["text"].tolist())
        last = max([last, *ts_us])
        state.update((ti, ts_us, texts, last))
        # emit when the watermark passes the conversation's idle horizon
        state.setTimeoutTimestamp(last // 1000 + gap_ms)

    return (
        turns_stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            REASSEMBLED_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
