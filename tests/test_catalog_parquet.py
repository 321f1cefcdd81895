"""Parquet-fallback catalog semantics (S3/S4): empty-write handling and
partition-layout integrity on append (ADVICE.md r3)."""

import pytest
from pyspark.sql import functions as F

from hsip.catalog import Catalog


def _pairs(spark, n, batch):
    return spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.col("id").alias("v"),
        F.lit(batch).alias("batch_id"),
    )


def test_empty_partitioned_overwrite_truncates(spark, tmp_path):
    """mode='overwrite' with an empty partitioned frame must TRUNCATE the
    table (previous contents gone), not silently leave them in place."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(_pairs(spark, 5, 0), "t.a", mode="overwrite",
              partition_by=["batch_id"], meta={"gen": "1"})
    assert cat.read("t.a").count() == 5

    empty = _pairs(spark, 5, 0).filter(F.lit(False))
    cat.write(empty, "t.a", mode="overwrite", partition_by=["batch_id"],
              meta={"gen": "2"})
    out = cat.read("t.a")
    assert out.count() == 0
    # schema survives through the manifest (no data files to carry it)
    assert set(out.columns) == {"k", "v", "batch_id"}
    assert cat.properties("t.a") == {"gen": "2"}


def test_empty_partitioned_append_is_noop(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(_pairs(spark, 3, 0), "t.b", mode="append", partition_by=["batch_id"])
    empty = _pairs(spark, 3, 1).filter(F.lit(False))
    cat.write(empty, "t.b", mode="append", partition_by=["batch_id"])
    assert cat.read("t.b").count() == 3


def test_append_after_empty_overwrite(spark, tmp_path):
    """First real append onto a schema-only empty table materializes the
    partitioned layout."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    empty = _pairs(spark, 1, 0).filter(F.lit(False))
    cat.write(empty, "t.c", mode="overwrite", partition_by=["batch_id"])
    assert cat.read("t.c").count() == 0
    cat.write(_pairs(spark, 4, 0), "t.c", mode="append", partition_by=["batch_id"])
    assert cat.read("t.c").count() == 4


def test_append_layout_mismatch_fails_fast(spark, tmp_path):
    """Appending with a different partition_by than the table's recorded
    layout would produce a mixed root-files/key=value tree that Spark
    partition discovery rejects — fail fast instead (ADVICE.md r3)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(_pairs(spark, 3, 0), "t.d", mode="append", partition_by=["batch_id"])
    with pytest.raises(ValueError, match="does not match"):
        cat.write(_pairs(spark, 3, 1), "t.d", mode="append")  # flat onto partitioned
    cat2 = Catalog(spark, str(tmp_path / "wh"))
    cat2.write(_pairs(spark, 3, 0), "t.e", mode="append")  # flat table
    with pytest.raises(ValueError, match="does not match"):
        cat2.write(_pairs(spark, 3, 1), "t.e", mode="append",
                   partition_by=["batch_id"])
    # matching layout still appends fine
    cat.write(_pairs(spark, 2, 1), "t.d", mode="append", partition_by=["batch_id"])
    assert cat.read("t.d").count() == 5


def test_concurrent_append_detected(spark, tmp_path, monkeypatch):
    """Optimistic single-writer check (VERDICT r4 #7): an append whose
    base snapshot was superseded by another commit mid-flight must raise
    ConcurrentWriteError BEFORE touching the live data tree."""
    import json
    import os

    from hsip.catalog import ConcurrentWriteError

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(5).selectExpr("id", "cast(id as string) as v")
    cat.write(df, "t.race", mode="overwrite")

    # interleave a competing commit between this append's base-snapshot
    # read and its commit-time check: the second manifest() call inside
    # write() sees a table that advanced underneath us
    real_manifest = Catalog.manifest
    calls = {"n": 0}

    def racing_manifest(self, ident):
        man = real_manifest(self, ident)
        calls["n"] += 1
        if calls["n"] == 2:  # commit-time re-read: simulate the race
            man = dict(man, snapshot_id="someone-else-committed")
            path = os.path.join(self._path(ident), "_MANIFEST.json")
            with open(path, "w") as f:
                json.dump(man, f)
        return man

    n_before = cat.read("t.race").count()
    monkeypatch.setattr(Catalog, "manifest", racing_manifest)
    with pytest.raises(ConcurrentWriteError):
        cat.write(df, "t.race", mode="append")
    monkeypatch.undo()
    # live table unchanged: no orphan part files slipped in
    assert cat.read("t.race").count() == n_before
    # and a clean append (no race) still works, chaining the snapshot
    cat.write(df, "t.race", mode="append")
    assert cat.read("t.race").count() == n_before + 5
    assert "base_snapshot" in cat.manifest("t.race")


def test_merge_into_upserts_and_inserts(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", 1, "old"), ("b", 2, "old"), ("c", 3, "old")],
        ["k", "v", "tag"],
    )
    cat.write(base, "t.m", meta={"gen": "1"})
    delta = spark.createDataFrame(
        [("b", 20, "new"), ("d", 40, "new")], ["k", "v", "tag"]
    )
    cat.merge_into(delta, "t.m", ["k"], meta={"gen": "2"})
    got = {r["k"]: (r["v"], r["tag"]) for r in cat.read("t.m").collect()}
    assert got == {"a": (1, "old"), "b": (20, "new"),
                   "c": (3, "old"), "d": (40, "new")}
    assert cat.properties("t.m") == {"gen": "2"}
    # idempotent: replaying the same delta changes nothing
    cat.merge_into(delta, "t.m", ["k"], meta={"gen": "2"})
    assert {r["k"]: (r["v"], r["tag"]) for r in cat.read("t.m").collect()} \
        == got


def test_merge_into_duplicate_delta_keys_fail_fast(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(spark.createDataFrame([("a", 1)], ["k", "v"]), "t.m2")
    dup = spark.createDataFrame([("a", 1), ("a", 2)], ["k", "v"])
    with pytest.raises(ValueError, match="duplicate keys"):
        cat.merge_into(dup, "t.m2", ["k"])
    # and validate_keys=False takes the caller's word for it
    cat.merge_into(dup.limit(1), "t.m2", ["k"], validate_keys=False)


def test_merge_into_missing_table_creates_it(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    delta = spark.createDataFrame([("a", 1)], ["k", "v"])
    cat.merge_into(delta, "t.new", ["k"])
    assert cat.read("t.new").count() == 1


def test_compact_reduces_files_preserves_rows_and_layout(spark, tmp_path):
    import glob
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(_pairs(spark, 10, 0), "t.c", partition_by=["batch_id"],
              meta={"gen": "1"})
    for b in range(1, 4):
        cat.write(_pairs(spark, 10, b), "t.c", mode="append",
                  partition_by=["batch_id"], meta={"gen": "1"})
    data = os.path.join(str(tmp_path / "wh"), "t", "c", "data")
    before = len(glob.glob(os.path.join(data, "**", "*.parquet"),
                           recursive=True))
    rows_before = sorted(map(tuple, cat.read("t.c").collect()))
    cat.compact("t.c", target_files=2)
    after = len(glob.glob(os.path.join(data, "**", "*.parquet"),
                          recursive=True))
    assert after < before
    assert sorted(map(tuple, cat.read("t.c").collect())) == rows_before
    # layout + meta survive the rewrite
    assert cat.manifest("t.c").get("partition_by") == ["batch_id"]
    assert cat.properties("t.c") == {"gen": "1"}


def test_sorted_write_yields_disjoint_file_ranges(spark, tmp_path):
    """sort_by range-clusters the table: every parquet file's [min,max]
    on the sort key is pairwise disjoint, so selective scans skip whole
    files on footer stats. Negative control: a hash-shuffled unsorted
    write interleaves the key across files."""
    import glob
    import os

    import pyarrow.parquet as pq

    def ranges(ident):
        data = os.path.join(str(tmp_path / "wh"), *ident.split("."), "data")
        out = []
        for fn in glob.glob(os.path.join(data, "*.parquet")):
            col = pq.read_table(fn, columns=["v"])["v"].to_pylist()
            if col:
                out.append((min(col), max(col)))
        return sorted(out)

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 2000).alias("v"))
    cat.write(df.repartition(8), "t.sorted", sort_by=["v"])
    rs = ranges("t.sorted")
    assert len(rs) > 1
    for (lo1, hi1), (lo2, _hi2) in zip(rs, rs[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {rs}"
    assert cat.manifest("t.sorted").get("sort_by") == ["v"]
    assert sorted(r["v"] for r in cat.read("t.sorted").collect()) \
        == sorted(range(0, 2000))
    # negative control
    cat.write(df.repartition(8), "t.unsorted")
    ru = ranges("t.unsorted")
    overlaps = sum(1 for (l1, h1), (l2, _h2) in zip(ru, ru[1:]) if h1 > l2)
    assert overlaps > 0


def test_append_schema_mismatch_fails_fast_unless_evolving(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(spark.createDataFrame([("a", 1)], ["k", "v"]), "t.ev")
    wider = spark.createDataFrame([("b", 2, "x")], ["k", "v", "extra"])
    with pytest.raises(ValueError, match="evolve_schema"):
        cat.write(wider, "t.ev", mode="append")
    cat.write(wider, "t.ev", mode="append", evolve_schema=True)
    out = cat.read("t.ev")
    assert set(out.columns) == {"k", "v", "extra"}
    got = {r["k"]: r["extra"] for r in out.collect()}
    assert got == {"a": None, "b": "x"}  # old rows null-fill
    # the table stays marked: a later same-schema append still merge-reads
    cat.write(spark.createDataFrame([("c", 3, "y")], ["k", "v", "extra"]),
              "t.ev", mode="append", evolve_schema=True)
    assert cat.manifest("t.ev").get("merge_schema") is True
    assert cat.read("t.ev").count() == 3


def test_merge_into_preserves_partitioning_and_sort(spark, tmp_path):
    """The parquet-fallback merge is a full rewrite — it must carry the
    table's recorded layout (hive partitioning, range clustering) and,
    absent new meta, the existing meta. A merge that silently
    de-partitions the table breaks the next partitioned append."""
    import glob
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(_pairs(spark, 6, 0), "t.ml", partition_by=["batch_id"],
              meta={"gen": "1"})
    cat.merge_into(
        spark.createDataFrame([("k1", 100, 0)], ["k", "v", "batch_id"]),
        "t.ml", ["k"])
    man = cat.manifest("t.ml")
    assert man.get("partition_by") == ["batch_id"]
    assert cat.properties("t.ml") == {"gen": "1"}  # meta survives
    data = os.path.join(str(tmp_path / "wh"), "t", "ml", "data")
    assert glob.glob(os.path.join(data, "batch_id=0", "*.parquet"))
    # the partitioned append that previously raised layout-mismatch
    cat.write(_pairs(spark, 3, 1), "t.ml", mode="append",
              partition_by=["batch_id"], meta={"gen": "1"})
    assert cat.read("t.ml").count() == 9
    got = {r["k"]: r["v"] for r in cat.read("t.ml")
           .filter("batch_id = 0").collect()}
    assert got["k1"] == 100  # the upsert landed

    # sort-clustered table: merge keeps the sort_by marker
    cat.write(_pairs(spark, 50, 0), "t.ms", sort_by=["v"])
    cat.merge_into(
        spark.createDataFrame([("k0", 999, 0)], ["k", "v", "batch_id"]),
        "t.ms", ["k"])
    assert cat.manifest("t.ms").get("sort_by") == ["v"]


def test_compact_preserves_sort_clustering(spark, tmp_path):
    """compact() on a sort-clustered table must re-range-partition on
    the recorded sort keys (keeping file ranges disjoint), not
    hash-repartition the clustering away."""
    import glob
    import os

    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 2000).alias("v"))
    cat.write(df.repartition(8), "t.cs", sort_by=["v"], meta={"gen": "1"})
    cat.compact("t.cs")
    assert cat.manifest("t.cs").get("sort_by") == ["v"]
    assert cat.properties("t.cs") == {"gen": "1"}
    data = os.path.join(str(tmp_path / "wh"), "t", "cs", "data")
    rs = []
    for fn in glob.glob(os.path.join(data, "*.parquet")):
        col = pq.read_table(fn, columns=["v"])["v"].to_pylist()
        if col:
            rs.append((min(col), max(col)))
    rs.sort()
    assert len(rs) > 1
    for (lo1, hi1), (lo2, _hi2) in zip(rs, rs[1:]):
        assert hi1 <= lo2, f"compaction destroyed clustering: {rs}"
    assert sorted(r["v"] for r in cat.read("t.cs").collect()) \
        == sorted(range(0, 2000))


def test_zorder_key_matches_python_oracle(spark):
    """Morton interleave == bit-twiddling python oracle, including the
    zbucket exact-integer grid mapping."""
    from hsip.catalog import zbucket, zorder_key

    def py_zkey(vals, bits):
        key = 0
        for b in range(bits):
            for j, v in enumerate(vals):
                key |= ((v >> b) & 1) << (b * len(vals) + j)
        return key

    def py_bucket(v, lo, hi, bits):
        q = ((v - lo) * (1 << bits)) // (hi - lo + 1)
        return max(0, min((1 << bits) - 1, q))

    rows = [(i, (i * 37) % 1000, (i * 91) % 513 - 7) for i in range(300)]
    df = spark.createDataFrame(rows, "id int, x long, y long")
    got = {
        r.id: r.k
        for r in df.select(
            "id",
            zorder_key(
                [zbucket(F.col("x"), 0, 999, 8),
                 zbucket(F.col("y"), -7, 505, 8)],
                8,
            ).alias("k"),
        ).collect()
    }
    for i, x, y in rows:
        exp = py_zkey([py_bucket(x, 0, 999, 8), py_bucket(y, -7, 505, 8)], 8)
        assert got[i] == exp, (i, x, y)


def test_zorder_write_bounds_every_listed_dim(spark, tmp_path):
    """zorder_by enables file skipping on EVERY listed column: a
    predicate on y alone prunes z-clustered files by footer stats,
    while the lexicographic sort_by control cannot skip on y at all
    (every file spans the full y domain). Compaction preserves the
    clustering via the manifest. Assertions use min/max skipping
    semantics, not per-file spans — repartitionByRange samples its
    boundaries, so spans are ragged by design."""
    import glob
    import os

    import pyarrow.parquet as pq

    from hsip.catalog import Catalog

    def rects(ident):
        data = os.path.join(str(tmp_path / "wh"), *ident.split("."), "data")
        out = []
        for fn in glob.glob(os.path.join(data, "*.parquet")):
            t = pq.read_table(fn, columns=["x", "y"])
            if t.num_rows:
                xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
                out.append((min(xs), max(xs), min(ys), max(ys)))
        return out

    # 64x64 grid, one row per cell, row order decorrelated from both dims
    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 2654435761) % 64).alias("y"),
        F.col("id").alias("payload"),
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(grid, "t.z", zorder_by=["x", "y"], zorder_bits=6)
    man = cat.manifest("t.z")
    assert man.get("zorder_by") == ["x", "y"] and man.get("zorder_bits") == 6

    def skippable(rs, pred_lo):
        # files a scan with predicate y >= pred_lo can SKIP on stats
        return sum(1 for _xl, _xh, _yl, yh in rs if yh < pred_lo)

    rz = rects("t.z")
    assert len(rz) >= 4
    # y's top bit is the z-key's top bit, so the low-key files hold
    # y < 32 exclusively -> a y >= 48 scan skips them on footer stats
    assert skippable(rz, 48) >= 1, rz
    # ...and symmetric pruning at the other end (y < 16 scans)
    assert sum(1 for _xl, _xh, yl, _yh in rz if yl >= 16) >= 1, rz

    cat.write(grid, "t.lex", sort_by=["x"])
    rl = rects("t.lex")
    # the control is tight on x but NO file is skippable on y: each
    # spans ~the entire y domain
    assert all(xh - xl <= 40 for xl, xh, _yl, _yh in rl), rl
    assert skippable(rl, 48) == 0, rl
    assert all(yl <= 5 and yh >= 58 for _xl, _xh, yl, yh in rl), rl

    # row set unchanged, and compaction re-clusters from the manifest
    before = sorted((r.x, r.y) for r in cat.read("t.z").collect())
    cat.compact("t.z")
    assert sorted((r.x, r.y) for r in cat.read("t.z").collect()) == before
    assert skippable(rects("t.z"), 48) >= 1

    # guard rails
    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        cat.write(grid, "t.bad", zorder_by=["x", "y"], sort_by=["x"])
    with pytest.raises(ValueError, match=">= 2 columns"):
        cat.write(grid, "t.bad", zorder_by=["x"])


def test_zbucket_overflow_guard():
    """A span x cells product that would overflow int64 fails fast at
    plan time instead of erroring mid-write under ANSI mode."""
    import pytest

    from hsip.catalog import zbucket

    with pytest.raises(ValueError, match="2\\^53 exact-arithmetic"):
        zbucket(F.lit(0), 0, (1 << 47), 16)
    zbucket(F.lit(0), 0, (1 << 37) - 2, 16)  # under the line: fine


def test_zbucket_clamps_input_before_multiply(spark):
    """A stray sentinel value far outside [lo, hi] clamps to the edge
    CELL — clamping the quotient after the multiply would overflow (or
    wrap the largest values to bucket 0 in legacy mode)."""
    from hsip.catalog import zbucket

    df = spark.createDataFrame(
        [(1, 1 << 55), (2, -(1 << 55)), (3, 500)], "id int, v long"
    )
    got = {
        r.id: r.b
        for r in df.select(
            "id", zbucket(F.col("v"), 0, 1023, 8).alias("b")
        ).collect()
    }
    assert got[1] == 255   # huge value -> top edge cell, not wraparound
    assert got[2] == 0     # huge negative -> bottom edge cell
    assert got[3] == 125   # in-range unchanged: (500*256)//1024


def test_merge_and_append_preserve_zorder_manifest(spark, tmp_path):
    """merge_into and plain appends must carry the recorded z-order
    layout into the rewritten/updated manifest — one upsert or one
    streaming append must not silently de-cluster the table."""
    from hsip.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    grid = spark.range(0, 512).select(
        (F.col("id") % 32).alias("x"),
        ((F.col("id") * 2654435761) % 32).alias("y"),
        F.col("id").alias("payload"),
    )
    cat.write(grid, "t.zm", zorder_by=["x", "y"], zorder_bits=5,
              meta={"cfg": "abc"})

    # plain append: no layout args re-passed
    delta = spark.createDataFrame([(1, 2, 9999)], ["x", "y", "payload"])
    cat.write(delta, "t.zm", mode="append")
    man = cat.manifest("t.zm")
    assert man.get("zorder_by") == ["x", "y"]
    assert man.get("zorder_bits") == 5
    assert man.get("meta") == {"cfg": "abc"}  # meta inherited too

    # merge: full fallback rewrite must re-cluster and keep the memory
    upd = spark.createDataFrame([(1, 2, 7)], ["x", "y", "payload"])
    cat.merge_into(upd, "t.zm", ["x", "y"])
    man2 = cat.manifest("t.zm")
    assert man2.get("zorder_by") == ["x", "y"]
    assert man2.get("zorder_bits") == 5
    assert cat.read("t.zm").count() == 513


def test_zorder_key_per_coordinate_monotone_and_bijective(spark):
    """Morton interleave preserves per-coordinate order with the other
    coordinate fixed, and is a bijection on the grid (deinterleave
    round-trips) — the two properties file skipping relies on."""
    from hsip.catalog import zorder_key

    bits = 5
    pts = [(x, y) for x in range(0, 32, 3) for y in range(0, 32, 5)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select(
        "x", "y",
        zorder_key([F.col("x"), F.col("y")], bits).alias("k"),
    ).collect()
    key = {(r.x, r.y): r.k for r in rows}

    def deinterleave(k):
        x = y = 0
        for b in range(bits):
            x |= ((k >> (2 * b)) & 1) << b
            y |= ((k >> (2 * b + 1)) & 1) << b
        return x, y

    assert len(set(key.values())) == len(pts)  # injective
    for (x, y), k in key.items():
        assert deinterleave(k) == (x, y)       # bijective on the grid
    xs = sorted({x for x, _ in pts})
    ys = sorted({y for _, y in pts})
    for y in ys:                               # monotone in x at fixed y
        ks = [key[(x, y)] for x in xs]
        assert ks == sorted(ks)
    for x in xs:                               # monotone in y at fixed x
        ks = [key[(x, y)] for y in ys]
        assert ks == sorted(ks)


def test_catalog_op_sequence_matches_model(spark, tmp_path):
    """Randomized write/append/merge/compact sequence against a python
    dict model: row content always matches, and the recorded clustering
    layout survives every op (the manifest-inheritance contract)."""
    import random

    from hsip.catalog import Catalog

    rng = random.Random(2026)
    cat = Catalog(spark, str(tmp_path / "wh"))
    model: dict[int, tuple[int, int]] = {}  # key -> (x, y)

    def mk_rows(n, fresh_keys):
        rows = []
        for _ in range(n):
            k = (rng.randrange(10_000, 20_000) if fresh_keys
                 else rng.choice(sorted(model) or [10_000]))
            rows.append((k, rng.randrange(64), rng.randrange(64)))
        return rows

    def df_of(rows):
        return spark.createDataFrame(rows, "key long, x long, y long")

    first = mk_rows(40, fresh_keys=True)
    cat.write(df_of(first), "t.seq", zorder_by=["x", "y"], zorder_bits=6,
              meta={"v": "1"})
    for k, x, y in first:
        model[k] = (x, y)

    for _ in range(6):
        op = rng.choice(["append", "merge", "compact"])
        if op == "append":
            rows = mk_rows(10, fresh_keys=True)
            cat.write(df_of(rows), "t.seq", mode="append")
            for k, x, y in rows:
                model[k] = (x, y)
        elif op == "merge":
            rows = mk_rows(5, fresh_keys=False) + mk_rows(5, fresh_keys=True)
            # merge cardinality rule: one row per key in the delta
            dedup = {k: (k, x, y) for k, x, y in rows}
            cat.merge_into(df_of(list(dedup.values())), "t.seq", ["key"])
            for k, x, y in dedup.values():
                model[k] = (x, y)
        else:
            cat.compact("t.seq")
        got = {r.key: (r.x, r.y) for r in cat.read("t.seq").collect()}
        assert got == model, f"diverged after {op}"
        man = cat.manifest("t.seq")
        assert man.get("zorder_by") == ["x", "y"], f"layout lost after {op}"
        assert man.get("zorder_bits") == 6
        assert man.get("meta") == {"v": "1"}, f"meta lost after {op}"


def test_read_back_uses_the_schema_recorded_at_commit(spark, tmp_path):
    """The manifest records the table's schema at commit and read() applies
    it: the read-back schema equals what footer inference gives, nullability
    included, with no inference job. Tables whose manifest predates the
    recorded schema, and schema-merging tables, still infer."""
    import json
    import os

    from hsip.checkpoint import Checkpointer

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("a", 1, [1.5], {"x": 2}, (3, "s"))],
        "id string not null, n int, v array<double>, m map<string,int>, "
        "st struct<p:bigint,q:string>",
    ).withColumn("ts", F.current_timestamp())
    ck = Checkpointer(cat, "r", fingerprint="fp")
    got = ck.materialize("stage", lambda: df)
    path = os.path.join(cat._path("ckpt.r.stage"), "data")
    inferred = spark.read.parquet(path).schema
    assert got.schema == inferred
    assert [f.nullable for f in got.schema] == [f.nullable for f in inferred]

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "schema-read")
    try:
        cat.read("ckpt.r.stage")
        # the append's column check reads the recorded schema too
        cat.write(df, "ckpt.r.stage", mode="append")
        jobs = sc.statusTracker().getJobIdsForGroup("schema-read")
        # only the append's own write job ran
        assert len(jobs) == 1, jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert cat.read("ckpt.r.stage").count() == 2

    # a manifest written before schemas were recorded: inference
    man_path = os.path.join(cat._path("ckpt.r.stage"), "_MANIFEST.json")
    man = cat.manifest("ckpt.r.stage")
    del man["schema"]
    with open(man_path, "w") as f:
        json.dump(man, f)
    assert cat.read("ckpt.r.stage").schema == inferred

    # an evolved (schema-merging) table records no schema
    cat.write(df.withColumn("extra", F.lit(1)), "ckpt.r.stage", mode="append",
              evolve_schema=True)
    man = cat.manifest("ckpt.r.stage")
    assert man.get("merge_schema") and "schema" not in man
    assert "extra" in cat.read("ckpt.r.stage").columns
