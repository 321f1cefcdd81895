"""Table catalog: Iceberg when a runtime is on the classpath, parquet
directory + JSON manifest otherwise (SURVEY.md §2.1 S1-S4).

The sandbox has no iceberg-spark-runtime jar and no network (SURVEY.md
§0.4), so the Iceberg path is a config-only switch: on a real cluster,
set ``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog``
and pass ``iceberg_catalog=<name>`` — every read/write below then goes
through ``spark.read.table`` / ``df.writeTo`` and inherits Iceberg
snapshot isolation, metadata pruning and atomic commits. The parquet
fallback emulates atomic commit with write-to-temp + rename + manifest.

Concurrency contract (parquet fallback): SINGLE WRITER per table ident.
Overwrites are last-writer-wins whole-directory renames (safe but
clobbering); appends are optimistic — the writer records the manifest
snapshot it started from and fails fast with ``ConcurrentWriteError``
at commit time if another commit landed in between, instead of silently
interleaving part files under a manifest that attributes them to the
wrong snapshot. This is detection, not a lock: the check-then-rename
window is not atomic across processes, so concurrent multi-process
writers need the Iceberg path, whose commit protocol (metadata-pointer
CAS) handles them natively on a real cluster.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from collections import defaultdict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zbucket(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Map a numeric column from the [lo, hi] value range onto the
    [0, 2**bits) grid — the bucketing step feeding ``zorder_key``.
    Exact integer arithmetic (``(v-lo)*2^bits div span`` after clamping
    v into [lo, hi]), so DuckDB replicates it value-for-value with
    ``//``; the float path would round differently at cell edges.
    Out-of-range values clamp to the edge cells BEFORE the multiply —
    clamping the quotient instead would let a stray sentinel value
    overflow the product (ANSI: mid-job error; legacy: wraparound that
    lands the LARGEST values in bucket 0). Timestamps: convert to an
    integer unit (epoch day/hour) first — the caller picks the
    granularity that matters for skipping."""
    span = hi - lo + 1
    cells = 1 << bits
    if span * cells >= 1 << 53:
        # (v-lo)*cells must stay under 2^53: the quotient is extracted
        # through one exactly-divisible double division, which is only
        # exact while the numerator fits a double's mantissa — beyond
        # it, binade-edge cells round down one bucket and the DuckDB
        # ``//`` parity breaks. Pre-bucket to a coarser unit instead.
        raise ValueError(
            f"zbucket: span {span} x 2^{bits} cells exceeds the 2^53 "
            "exact-arithmetic bound — map the column to a coarser "
            "integer unit (epoch day/hour, id>>k) before bucketing"
        )
    v = F.greatest(F.lit(lo), F.least(F.lit(hi), col.cast("long")))
    num = (v - F.lit(lo)) * F.lit(cells)
    # exact long division: subtract the remainder, then the double
    # division is exact (numerator < 2^53 by the guard above); the
    # clamped input already bounds the quotient to [0, cells-1]
    return ((num - F.pmod(num, F.lit(span))) / F.lit(span)).cast("long")


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    already-bucketed, non-negative column (``zbucket`` output) into one
    bigint. Sorting by this key clusters rows so every file covers a
    small HYPER-RECTANGLE of the key space — per-file min/max footer
    stats stay tight on EVERY interleaved dimension at once, where a
    lexicographic sort_by gives tight stats only on its leading column.
    This is what Iceberg's ``rewrite_data_files(strategy=>'sort',
    sort_order=>'zorder(...)')`` does natively; the parquet fallback
    computes the key explicitly and rides the same range-cluster write
    path. Pure codegen bit arithmetic — k×bits OR terms, zero Python,
    zero shuffle beyond the range exchange the write already does."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder_key needs >= 2 columns (use sort_by for 1)")
    if k * bits > 63:
        raise ValueError(
            f"{k} cols x {bits} bits = {k * bits} interleaved bits "
            "exceed a signed 64-bit key; lower zorder_bits"
        )
    key = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * k + j))
    return key


# the writing task's partition number: Spark's ``part-00003-<uuid>-c000``
# and Iceberg's ``00003-<task>-<uuid>-00001`` data file names
_WRITE_PARTITION = re.compile(r"(?:part-)?(\d+)-")


class ConcurrentWriteError(RuntimeError):
    """Another commit landed on this table between append start and
    commit (parquet-fallback optimistic check; see module docstring)."""


FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_fixture(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """S1: vectorized parquet scan of a driver fixture table."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    for name in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)


class Catalog:
    """Uniform read/write over Iceberg (cluster) or parquet dirs (sandbox)."""

    def __init__(self, spark: SparkSession, warehouse: str, iceberg_catalog: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.iceberg_catalog = iceberg_catalog
        if not iceberg_catalog:
            os.makedirs(warehouse, exist_ok=True)
        # in-process writers (e.g. several threads appending to one
        # table) serialize per table ident; the optimistic
        # snapshot check in write() covers writers this lock can't see
        # (other processes / other Catalog instances)
        self._ident_locks: dict[str, threading.Lock] = defaultdict(threading.Lock)
        self._locks_guard = threading.Lock()

    def _lock(self, ident: str) -> threading.Lock:
        with self._locks_guard:
            return self._ident_locks[ident]

    # -- identifiers ---------------------------------------------------
    def _path(self, ident: str) -> str:
        return os.path.join(self.warehouse, ident.replace(".", "/"))

    def exists(self, ident: str) -> bool:
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(f"{self.iceberg_catalog}.{ident}")
        return os.path.exists(os.path.join(self._path(ident), "_MANIFEST.json"))

    # -- read ----------------------------------------------------------
    def read(self, ident: str) -> DataFrame:
        if self.iceberg_catalog:
            return self.spark.read.table(f"{self.iceberg_catalog}.{ident}")
        man = self.manifest(ident)
        if "empty_schema" in man:
            # zero-row partitioned table: schema lives in the manifest
            # (a hive-partitioned write of zero rows yields no readable
            # files, so the schema is carried out-of-band — Iceberg keeps
            # it in table metadata natively)
            from pyspark.sql.types import StructType

            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(man["empty_schema"])))
        reader = self.spark.read
        if man.get("merge_schema"):
            # evolved table (see write(evolve_schema=...)): union the
            # per-file schemas instead of adopting an arbitrary file's
            reader = reader.option("mergeSchema", "true")
        elif "schema" in man:
            # the schema recorded at commit: no footer-reading inference
            # job per read (manifests written before it was recorded
            # still infer)
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(man["schema"])))
        return reader.parquet(os.path.join(self._path(ident), "data"))

    def manifest(self, ident: str) -> dict:
        with open(os.path.join(self._path(ident), "_MANIFEST.json")) as f:
            return json.load(f)

    def properties(self, ident: str) -> dict:
        """Table metadata key/values: Iceberg table properties (written as
        ``hsip.<key>`` at create time) or the parquet manifest's meta —
        one shape for checkpoint-fingerprint comparison either way."""
        if self.iceberg_catalog:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self.iceberg_catalog}.{ident}"
            ).collect()
            return {
                r[0][len("hsip."):]: r[1] for r in rows if r[0].startswith("hsip.")
            }
        return self.manifest(ident).get("meta", {})

    def partition_rows(self, ident: str) -> list[tuple[int, int]]:
        """(write partition, rows) of a committed table, from file metadata
        alone: the parquet fallback sums its part files' footer row
        counts by the ``part-NNNNN`` number the writing task stamps, and
        Iceberg reads its ``files`` metadata table, whose data file names
        lead with the same number. No job scans the data. Files named by
        neither (parquet-fallback appends) count under partition -1."""
        if self.iceberg_catalog:
            files = [
                (os.path.basename(r[0]), r[1]) for r in self.spark.read.table(
                    f"{self.iceberg_catalog}.{ident}.files"
                ).select("file_path", "record_count").collect()
            ]
        else:
            import pyarrow.parquet as pq

            files = [
                (fn, pq.read_metadata(os.path.join(root, fn)).num_rows)
                for root, _dirs, names in os.walk(os.path.join(self._path(ident), "data"))
                for fn in names
                if fn.endswith(".parquet") and not fn.startswith((".", "_"))
            ]
        rows: dict[int, int] = defaultdict(int)
        for name, n in files:
            m = _WRITE_PARTITION.match(name)
            rows[int(m.group(1)) if m else -1] += n
        return sorted(rows.items())

    # -- write (atomic) --------------------------------------------------
    def write(self, df: DataFrame, ident: str, mode: str = "overwrite",
              meta: dict | None = None,
              partition_by: list[str] | None = None,
              sort_by: list[str] | None = None,
              evolve_schema: bool = False,
              zorder_by: list[str] | None = None,
              zorder_bits: int = 16) -> None:
        """``partition_by`` lays the table out hive-partitioned on those
        columns (Iceberg: identity partition transform at create; parquet
        fallback: writer partitionBy). Readers filtering on a partition
        column then prune to matching directories/manifests instead of
        scanning every file footer — the streaming index tables use this
        with batch_id so per-micro-batch replay guards stay O(one batch)
        as the index grows (VERDICT.md r2 item 6).

        ``sort_by`` range-clusters the data on those columns so each
        file's min/max footer stats are tight and disjoint: point/range
        predicates on the sort key then SKIP whole files (and row groups)
        at planning time — the cheap cousin of Z-ordering, and the knob
        that keeps selective scans O(matching data) on a 100-TB table.
        Iceberg: declared as the table's write order (ALTER TABLE ...
        WRITE ORDERED BY), so every engine writing the table clusters the
        same way. Fallback: repartitionByRange + sortWithinPartitions
        before the write; disjointness is pinned by file-stat tests.

        ``evolve_schema`` governs appends whose columns differ from the
        table's: by default they FAIL FAST — a plain parquet read of
        mixed-schema files silently adopts one file's schema and drops
        the other's columns, which is data loss, not evolution. Opt in
        and the table is marked schema-merging: Iceberg unions the
        schemas natively (mergeSchema write option); the fallback
        records a manifest flag so read() scans with mergeSchema=true
        (absent columns null-fill — the standard evolution semantics).

        ``zorder_by`` (mutually exclusive with sort_by) Morton-clusters
        the data on >= 2 numeric columns so per-file min/max stats stay
        tight on EVERY listed column at once — point/range predicates on
        ANY of them skip files, where sort_by only serves its leading
        column. Column value bounds come from one metadata-scale min/max
        aggregation over the write (2k driver scalars); each column is
        bucketed onto a 2^zorder_bits grid and the interleaved key
        drives the same repartitionByRange + sortWithinPartitions
        layout. On Iceberg the snapshot written HERE is z-clustered the
        same way; ongoing maintenance re-clustering uses
        ``compact(ident, zorder_by=...)`` -> the native
        rewrite_data_files zorder strategy (WRITE ORDERED BY cannot
        express interleaving)."""
        if zorder_by and sort_by:
            raise ValueError("zorder_by and sort_by are mutually "
                             "exclusive (one physical order per table)")
        if zorder_by and len(zorder_by) < 2:
            raise ValueError("zorder_by needs >= 2 columns — use "
                             "sort_by for single-column clustering")
        if self.iceberg_catalog and mode == "append" and self.exists(ident):
            # Resolve recorded layout BEFORE the physical clustering
            # (ADVICE.md r5): Iceberg inherits partition spec and write
            # order natively on append, but z-interleaving is ours — read
            # it back from the table properties so a plain append lands
            # z-clustered instead of only property-labeled. Conflicting
            # explicit layouts are rejected. (The parquet fallback does
            # the same INSIDE its per-ident lock — _write_parquet_locked
            # — so in-process writers chain snapshots without tripping
            # the optimistic-concurrency check.)
            props = self.properties(ident)
            zp = props.get("zorder_by")
            man_z = [c.strip() for c in zp.split(",")] if zp else None
            if sort_by and man_z:
                raise ValueError(
                    f"append to {ident}: sort_by={sort_by!r} conflicts with "
                    f"the table's recorded zorder_by={man_z!r} (one physical "
                    "order per table)")
            if not zorder_by and man_z:
                zorder_by = man_z
                zorder_bits = int(props.get("zorder_bits", zorder_bits))
        zsrc = None
        if self.iceberg_catalog and zorder_by:
            df, zsrc = self._zcluster(df, zorder_by, zorder_bits)
        try:
            self._dispatch_write(df, ident, mode, meta, partition_by,
                                 sort_by, evolve_schema,
                                 zorder_by, zorder_bits)
        finally:
            if zsrc is not None:
                zsrc.unpersist()

    def _zcluster(self, df: DataFrame, zorder_by: list[str],
                  zorder_bits: int):
        """Morton-cluster ``df`` on ``zorder_by`` (see write()): one
        metadata-scale bounds aggregation, then the interleaved key
        drives repartitionByRange + sortWithinPartitions. Returns
        (clustered_df, persisted_src) — the caller unpersists the source
        AFTER the write consumes it (two actions share the lineage)."""
        zsrc = df.persist()
        bounds = zsrc.agg(*[
            f(c).cast("long").alias(f"{n}_{c}")
            for c in zorder_by for f, n in ((F.min, "lo"), (F.max, "hi"))
        ]).collect()[0]
        zcols = []
        for c in zorder_by:
            lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
            if lo is None or hi is None or lo == hi:
                # empty input or constant column: degenerate single
                # cell (the key still interleaves the other columns)
                zcols.append(F.lit(0).cast("long"))
            else:
                zcols.append(zbucket(F.col(c), lo, hi, zorder_bits))
        out = (
            zsrc.withColumn("__zkey", zorder_key(zcols, zorder_bits))
            .repartitionByRange(
                self.spark.sparkContext.defaultParallelism, "__zkey"
            )
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
        return out, zsrc

    def _dispatch_write(self, df: DataFrame, ident: str, mode: str,
                        meta: dict | None,
                        partition_by: list[str] | None,
                        sort_by: list[str] | None,
                        evolve_schema: bool,
                        zorder_by: list[str] | None,
                        zorder_bits: int) -> None:
        if sort_by and self.iceberg_catalog:
            # range-cluster the data we are writing NOW: Iceberg's
            # ALTER ... WRITE ORDERED BY below only governs FUTURE
            # writers — without this the initial snapshot (usually most
            # of the table) would land unclustered with overlapping
            # min/max stats and no file-skipping. (The parquet fallback
            # clusters inside _write_parquet_locked, AFTER its in-lock
            # layout inheritance.)
            df = df.repartitionByRange(
                self.spark.sparkContext.defaultParallelism, *sort_by
            ).sortWithinPartitions(*sort_by)
        if self.iceberg_catalog:
            full = f"{self.iceberg_catalog}.{ident}"
            if mode == "append" and self.exists(ident):
                # appends inherit the table's partition spec, write
                # order and properties (incl. hsip.zorder_by) natively
                w = df.writeTo(full)
                if evolve_schema:
                    w = w.option("mergeSchema", "true")
                w.append()
            else:
                w = df.writeTo(full)
                if partition_by:
                    w = w.partitionedBy(*[F.col(c) for c in partition_by])
                for k, v in (meta or {}).items():
                    # carried as Iceberg table properties so checkpoint
                    # fingerprints survive on the cluster path too
                    w = w.tableProperty(f"hsip.{k}", str(v))
                if zorder_by:
                    # WRITE ORDERED BY cannot express interleaving, so
                    # the clustering memory lives in table properties —
                    # compact() reads them back to dispatch the native
                    # zorder rewrite strategy (fallback parity: manifest)
                    w = w.tableProperty("hsip.zorder_by",
                                        ",".join(zorder_by))
                    w = w.tableProperty("hsip.zorder_bits",
                                        str(zorder_bits))
                w.createOrReplace()
                if sort_by:
                    self.spark.sql(
                        f"ALTER TABLE {full} WRITE ORDERED BY "
                        f"({', '.join(sort_by)})"
                    )
            return
        with self._lock(ident):
            self._write_parquet_locked(df, ident, mode, meta, partition_by,
                                       sort_by, evolve_schema,
                                       zorder_by, zorder_bits)

    def _write_parquet_locked(self, df: DataFrame, ident: str, mode: str,
                              meta: dict | None,
                              partition_by: list[str] | None,
                              sort_by: list[str] | None = None,
                              evolve_schema: bool = False,
                              zorder_by: list[str] | None = None,
                              zorder_bits: int = 16) -> None:
        base = self._path(ident)
        base_snapshot = None
        merge_schema = False
        # the schema the committed manifest records for read(): the
        # incoming frame's, unless an append inherits the table's below
        schema = df.schema.json()
        if mode == "append" and self.exists(ident):
            # ONE in-lock manifest read serves the optimistic-concurrency
            # base snapshot AND the layout inheritance below: reading it
            # before the lock (as an r6 draft did) made sequential
            # IN-PROCESS writers — e.g. threads appending to one table —
            # trip ConcurrentWriteError on each other,
            # because the waiter's pre-lock snapshot was already stale by
            # the time it acquired the lock.
            start_man = self.manifest(ident)
            # optimistic single-writer check (module docstring): remember
            # the snapshot this append builds on; verified again at commit
            base_snapshot = start_man.get("snapshot_id")
            # the committed manifest is rebuilt from THIS call's args, so
            # a plain append (which naturally re-passes no layout) must
            # inherit the table's recorded clustering/meta — otherwise
            # one streaming append silently erases sort_by/zorder_by and
            # every later compact() bin-packs unclustered. An append
            # whose explicit layout conflicts with the recorded one is
            # rejected, so a manifest can never carry both orders
            # (ADVICE.md r5).
            if sort_by and start_man.get("zorder_by"):
                raise ValueError(
                    f"append to {ident}: sort_by={sort_by!r} conflicts "
                    f"with the table's recorded zorder_by="
                    f"{start_man['zorder_by']!r} (one physical order per "
                    "table)")
            if zorder_by and start_man.get("sort_by"):
                raise ValueError(
                    f"append to {ident}: zorder_by={zorder_by!r} conflicts "
                    f"with the table's recorded sort_by="
                    f"{start_man['sort_by']!r} (one physical order per "
                    "table)")
            sort_by = sort_by or start_man.get("sort_by")
            if not zorder_by and start_man.get("zorder_by"):
                zorder_by = start_man["zorder_by"]
                zorder_bits = start_man.get("zorder_bits", zorder_bits)
            if meta is None:
                meta = start_man.get("meta")
            # schema-evolution gate (see write() docstring): compare the
            # incoming columns against the live table's before any bytes
            # move; once a table is marked merging it stays marked, so
            # later plain appends keep reading with mergeSchema
            merge_schema = bool(start_man.get("merge_schema"))
            if "empty_schema" not in start_man:
                schema = start_man.get("schema")
                live_cols = ({f["name"] for f in json.loads(schema)["fields"]}
                             if schema else set(self.read(ident).columns))
                new_cols = set(df.columns)
                if live_cols != new_cols:
                    if not evolve_schema:
                        raise ValueError(
                            f"append to {ident}: columns {sorted(new_cols)} "
                            f"differ from the table's {sorted(live_cols)} — "
                            "pass evolve_schema=True to union the schemas "
                            "(default fail-fast prevents silent column loss)")
                    merge_schema = True
            # a mixed root-files/key=value layout is rejected by Spark
            # partition discovery, so an append whose partition_by differs
            # from the table's recorded layout must fail fast instead of
            # corrupting the table (ADVICE.md r3)
            existing = start_man.get("partition_by")
            if existing != (partition_by or None) and "empty_schema" not in start_man:
                raise ValueError(
                    f"append to {ident}: partition_by={partition_by!r} does not "
                    f"match the table's existing layout {existing!r}")
        if partition_by and df.isEmpty():
            if mode == "append" and self.exists(ident):
                # appending nothing to an existing table is a no-op
                return
            # overwrite (or first write) of zero rows must still truncate /
            # create the table: a hive-partitioned write of zero rows yields
            # no schema-bearing files, so commit a manifest that carries the
            # schema out-of-band and an empty data dir (read() reconstructs
            # the empty frame; Iceberg keeps schema in metadata natively)
            tmp = f"{base}.tmp-{uuid.uuid4().hex[:8]}"
            os.makedirs(os.path.join(tmp, "data"))
            self._write_manifest(tmp, ident, meta, partition_by=partition_by,
                                 empty_schema=df.schema.json())
            if os.path.exists(base):
                shutil.rmtree(base)
            os.rename(tmp, base)
            return
        # physical clustering runs HERE, after the in-lock layout
        # inheritance above, so a plain append to a sorted/z-ordered
        # table lands its snapshot clustered (ADVICE.md r5 — the r5
        # shape clustered in write(), before inheritance had resolved,
        # so inherited-layout appends wrote unclustered files under a
        # manifest that claimed otherwise)
        zsrc = None
        if zorder_by:
            df, zsrc = self._zcluster(df, zorder_by, zorder_bits)
        elif sort_by:
            df = df.repartitionByRange(
                self.spark.sparkContext.defaultParallelism, *sort_by
            ).sortWithinPartitions(*sort_by)
        tmp = f"{base}.tmp-{uuid.uuid4().hex[:8]}"
        try:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(os.path.join(tmp, "data"))
        finally:
            if zsrc is not None:
                zsrc.unpersist()
        layout = {
            "partition_by": partition_by, "sort_by": sort_by,
            "zorder_by": zorder_by,
            "zorder_bits": zorder_bits if zorder_by else None,
            # a merging table is read with mergeSchema, never a recorded one
            "merge_schema": merge_schema,
            "schema": None if merge_schema else schema,
        }
        if mode == "append" and os.path.exists(base):
            # append = move the new part files into the live data dir with
            # unique names, then swap the manifest — O(new data), never a
            # rewrite of the table (Iceberg does this natively via
            # snapshot metadata; this emulates it at file granularity).
            # os.walk handles hive-partitioned layouts: part files live in
            # nested key=value dirs that are created in the live tree as
            # needed, so appending a new batch_id adds one directory.
            # stale-manifest fail-fast: if another writer committed since
            # this append read its base snapshot, moving our part files in
            # would attach rows to a manifest lineage we never saw — abort
            # before touching the live tree (ConcurrentWriteError; the
            # caller re-reads and retries on the new snapshot)
            live_snapshot = self.manifest(ident).get("snapshot_id")
            if base_snapshot is not None and live_snapshot != base_snapshot:
                shutil.rmtree(tmp)
                raise ConcurrentWriteError(
                    f"append to {ident}: table advanced from snapshot "
                    f"{base_snapshot} to {live_snapshot} during this append "
                    "(single-writer contract; see hsip/catalog.py docstring)"
                )
            data_dir = os.path.join(base, "data")
            tmp_data = os.path.join(tmp, "data")
            stamp = uuid.uuid4().hex[:8]
            i = 0
            for root, _dirs, files in os.walk(tmp_data):
                rel = os.path.relpath(root, tmp_data)
                dest = data_dir if rel == "." else os.path.join(data_dir, rel)
                for fn in sorted(files):
                    if not fn.endswith(".parquet"):
                        continue
                    os.makedirs(dest, exist_ok=True)
                    os.rename(
                        os.path.join(root, fn),
                        os.path.join(dest, f"append-{stamp}-{i:05d}.parquet"),
                    )
                    i += 1
            self._write_manifest(base, ident, meta, base_snapshot=base_snapshot,
                                 **layout)
            shutil.rmtree(tmp)
            return
        self._write_manifest(tmp, ident, meta, **layout)
        if os.path.exists(base):
            shutil.rmtree(base)
        os.rename(tmp, base)

    @staticmethod
    def _write_manifest(table_dir: str, ident: str, meta: dict | None,
                        **fields) -> None:
        """Commit ``table_dir``'s manifest, the one place manifests are
        written: a fresh snapshot id, the commit time, ``meta``, and every
        layout/schema field that is set (``schema`` is the table's schema
        as JSON, which read() applies instead of inferring it). Written
        under a temp name and renamed, so no reader sees half of it."""
        man = {"ident": ident, "snapshot_id": uuid.uuid4().hex,
               "committed_at": time.time(), "meta": meta or {},
               **{k: v for k, v in fields.items() if v}}
        tmp = os.path.join(table_dir, f"_MANIFEST.json.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.rename(tmp, os.path.join(table_dir, "_MANIFEST.json"))

    # -- merge (batch upsert) --------------------------------------------
    def merge_into(self, updates: DataFrame, ident: str,
                   key_cols: list[str], meta: dict | None = None,
                   validate_keys: bool = True) -> None:
        """SCD-1 MERGE: update rows whose key matches, insert the rest.

        Iceberg path: ``MERGE INTO`` SQL — the cluster engine rewrites
        (copy-on-write) or shadows (merge-on-read) ONLY the files that
        contain matched rows, so a 100-TB table absorbs a small delta in
        O(touched files). Parquet fallback: ``target ANTI-JOIN updates``
        + ``unionByName`` committed as a new snapshot — one key shuffle
        (AQE broadcasts a small delta side), but a full-snapshot rewrite;
        the docstring-level contract is that clusters use Iceberg and the
        fallback exists for sandbox/dev parity, same as write().

        ``validate_keys`` mirrors Iceberg's MERGE cardinality rule: a
        delta carrying duplicate keys would make the surviving row
        nondeterministic, so it fails fast (one agg over the delta —
        cheap on the small side).
        """
        if validate_keys:
            from pyspark.sql import functions as F

            dup = (
                updates.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"merge_into {ident}: updates contain duplicate keys, "
                    f"e.g. {tuple(dup[0][c] for c in key_cols)!r} — the "
                    "merge result would be nondeterministic")
        if not self.exists(ident):
            self.write(updates, ident, mode="overwrite", meta=meta)
            return
        if self.iceberg_catalog:
            full = f"{self.iceberg_catalog}.{ident}"
            view = "hsip_merge_src_" + uuid.uuid4().hex[:8]
            updates.createOrReplaceTempView(view)
            on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            self.spark.sql(
                f"MERGE INTO {full} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            self.spark.catalog.dropTempView(view)
            return
        target = self.read(ident)
        merged = target.join(updates, key_cols, "left_anti").unionByName(
            updates
        )
        # the fallback merge is a full rewrite: carry the table's
        # recorded layout (hive partitioning, range clustering) and —
        # when the caller passes no new meta — its existing meta, so a
        # merge never silently de-partitions or de-clusters the table
        man = self.manifest(ident)
        self.write(merged, ident, mode="overwrite",
                   meta=meta if meta is not None else man.get("meta"),
                   partition_by=man.get("partition_by"),
                   sort_by=man.get("sort_by"),
                   zorder_by=man.get("zorder_by"),
                   zorder_bits=man.get("zorder_bits", 16))

    def compact(self, ident: str, target_files: int = 0,
                zorder_by: list[str] | None = None) -> None:
        """Small-file compaction. Streaming appends and incremental
        merges accrete part files; scans then pay per-file open/footer
        costs that dwarf the data read (the classic 100-TB "millions of
        tiny files" failure). Iceberg path: the native
        ``rewrite_data_files`` maintenance procedure (bin-packs to the
        table's target file size, commits one snapshot). Parquet
        fallback: read + repartition(``target_files``, default
        defaultParallelism) + overwrite — meta and hive layout preserved
        from the live manifest, committed via the same tmp+rename.

        ``zorder_by`` re-clusters while compacting: Iceberg dispatches
        the native zorder sort strategy; the fallback rewrites through
        ``write(zorder_by=...)``. A table WRITTEN with zorder_by keeps
        its clustering on plain compaction — the fallback manifest and
        the Iceberg ``hsip.zorder_by`` table property both remember the
        columns — mirroring how sort_by tables re-cluster. As with
        sort_by tables, ``target_files`` does not apply to clustered
        rewrites (file count follows the range partitioning; a random
        repartition(n) would destroy the clustering compaction is meant
        to preserve)."""
        if self.iceberg_catalog:
            if zorder_by is None:
                zp = self.properties(ident).get("zorder_by")
                if zp:
                    zorder_by = [c.strip() for c in zp.split(",")]
            if zorder_by:
                # properties are an out-of-band string channel and the
                # column list is interpolated into the CALL statement —
                # validate every name against the live schema first so a
                # quoted/parenthesized/comma-bearing name (or a mis-split
                # property) fails loudly instead of breaking or
                # redirecting the SQL (ADVICE.md r5)
                live = set(
                    self.spark.read.table(
                        f"{self.iceberg_catalog}.{ident}"
                    ).columns
                )
                bad = [c for c in zorder_by if c not in live]
                if bad:
                    raise ValueError(
                        f"compact({ident}): zorder columns {bad!r} not in "
                        f"table schema {sorted(live)!r}")
                self.spark.sql(
                    f"CALL {self.iceberg_catalog}.system.rewrite_data_files("
                    f"table => '{ident}', strategy => 'sort', "
                    f"sort_order => 'zorder({', '.join(zorder_by)})')"
                )
            else:
                self.spark.sql(
                    f"CALL {self.iceberg_catalog}.system.rewrite_data_files("
                    f"table => '{ident}')"
                )
            return
        man = self.manifest(ident)
        zcols = zorder_by or man.get("zorder_by")
        if zcols:
            self.write(self.read(ident), ident, mode="overwrite",
                       meta=man.get("meta"),
                       partition_by=man.get("partition_by"),
                       zorder_by=zcols,
                       zorder_bits=man.get("zorder_bits", 16))
            return
        sort_by = man.get("sort_by")
        if sort_by:
            # sort-clustered table: write() re-range-partitions on the
            # sort keys (file count = defaultParallelism; target_files
            # does not apply — a random repartition(n) here would
            # destroy the clustering compaction is meant to preserve)
            df = self.read(ident)
        else:
            n = target_files or self.spark.sparkContext.defaultParallelism
            df = self.read(ident).repartition(n)
        self.write(df, ident, mode="overwrite", meta=man.get("meta"),
                   partition_by=man.get("partition_by"), sort_by=sort_by)

    def drop(self, ident: str) -> None:
        if self.iceberg_catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.iceberg_catalog}.{ident}")
        elif os.path.exists(self._path(ident)):
            shutil.rmtree(self._path(ident))

    # -- bucketed tables: co-located (exchange-free) joins ---------------
    def _bucketed_name(self, ident: str) -> str:
        # session-catalog table name for the sandbox bucketed path
        return "hsip_bkt_" + ident.replace(".", "_")

    def write_bucketed(self, df: DataFrame, ident: str, n_buckets: int,
                       bucket_cols: list[str],
                       sort_cols: list[str] | None = None) -> None:
        """Bucket-clustered table write so repeated equi-joins and
        aggregations on the bucket key run with ZERO exchange: two
        tables written with the same ``n_buckets``/``bucket_cols`` join
        by zipping bucket i of both sides task-by-task. At 100 TB this
        removes the dominant shuffle of every fact-fact join against a
        persisted index (e.g. delta-vs-index incremental dedup re-joins
        the same band-key layout each batch).

        Iceberg path: ``partitionedBy(bucket(N, col))`` — with
        storage-partitioned joins
        (``spark.sql.sources.v2.bucketing.enabled``) the cluster gets
        the same exchange-free plan natively. Sandbox path: Spark's own
        bucketed parquet tables (``bucketBy`` + ``sortBy`` +
        ``saveAsTable``; bucket metadata lives in the session catalog).
        The exchange-free plan is pinned by
        tests/test_catalog_bucketed.py, with an unbucketed negative
        control that DOES shuffle.
        """
        sort_cols = sort_cols or bucket_cols
        if self.iceberg_catalog:
            from pyspark.sql import functions as F

            w = df.writeTo(f"{self.iceberg_catalog}.{ident}").partitionedBy(
                *[F.bucket(n_buckets, F.col(c)) for c in bucket_cols]
            )
            w.createOrReplace()
            return
        name = self._bucketed_name(ident)
        with self._lock(ident):
            (
                df.write.format("parquet")
                .mode("overwrite")
                .option("path", os.path.join(self._path(ident), "bucketed"))
                .bucketBy(n_buckets, *bucket_cols)
                .sortBy(*sort_cols)
                .saveAsTable(name)
            )

    def read_bucketed(self, ident: str) -> DataFrame:
        """Catalog-backed scan that preserves bucketing metadata (a plain
        ``spark.read.parquet`` of the same files would forget the layout
        and reintroduce the shuffle)."""
        if self.iceberg_catalog:
            return self.spark.read.table(f"{self.iceberg_catalog}.{ident}")
        return self.spark.table(self._bucketed_name(ident))
