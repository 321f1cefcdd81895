"""Iceberg dispatch (S2): the sandbox has no iceberg-spark-runtime jar,
so the branch is pinned with a stub SparkSession — identifier shapes,
append-vs-createOrReplace dispatch, fingerprint table properties, and
checkpoint invalidation (VERDICT.md r1 missing #3 + ADVICE.md r1)."""

from unittest import mock

from hsip.catalog import Catalog
from hsip.checkpoint import Checkpointer


def _cat():
    spark = mock.MagicMock()
    return spark, Catalog(spark, "/ignored", iceberg_catalog="ice")


def test_exists_read_drop_identifiers():
    spark, cat = _cat()
    spark.catalog.tableExists.return_value = True
    assert cat.exists("ckpt.runA.features")
    spark.catalog.tableExists.assert_called_with("ice.ckpt.runA.features")
    cat.read("ckpt.runA.features")
    spark.read.table.assert_called_with("ice.ckpt.runA.features")
    cat.drop("out.runA.clusters")
    spark.sql.assert_called_with("DROP TABLE IF EXISTS ice.out.runA.clusters")


def test_write_dispatch_and_fingerprint_property():
    spark, cat = _cat()
    # fresh table: createOrReplace with hsip.* table properties from meta
    spark.catalog.tableExists.return_value = False
    df = mock.MagicMock()
    cat.write(df, "ckpt.runA.features", meta={"fingerprint": "abc123"})
    df.writeTo.assert_called_once_with("ice.ckpt.runA.features")
    w = df.writeTo.return_value
    w.tableProperty.assert_called_once_with("hsip.fingerprint", "abc123")
    w.tableProperty.return_value.createOrReplace.assert_called_once()
    # existing table + append mode: append(), no replace
    spark.catalog.tableExists.return_value = True
    df2 = mock.MagicMock()
    cat.write(df2, "metrics", mode="append")
    df2.writeTo.return_value.append.assert_called_once()
    df2.writeTo.return_value.createOrReplace.assert_not_called()


def test_partitioned_create_vs_append_dispatch(spark):
    """The first two branches a real deployment hits (VERDICT.md r3 item
    8): a fresh partitioned table must go through partitionedBy(identity
    cols) + hsip.* tableProperties + createOrReplace; an append to an
    existing table must call append() only — the partition spec and
    properties belong to the table, not the write.

    (needs the live ``spark`` fixture only because F.col() requires an
    active SparkContext; the session under test is still the stub)"""
    _, cat = _cat()
    stub = cat.spark
    stub.catalog.tableExists.return_value = False
    df = mock.MagicMock()
    cat.write(df, "index.bands", mode="append", partition_by=["batch_id"],
              meta={"fingerprint": "f1", "gen": "2"})
    w = df.writeTo.return_value
    # identity partition transform on exactly the requested columns
    w.partitionedBy.assert_called_once()
    assert len(w.partitionedBy.call_args.args) == 1
    # every meta key lands as an hsip.* table property (fingerprint
    # round-trip for checkpoint invalidation); the writer API chains, so
    # walk the mock chain node by node
    node, props = w.partitionedBy.return_value, {}
    while node.tableProperty.called:
        c = node.tableProperty.call_args
        props[c.args[0]] = c.args[1]
        node = node.tableProperty.return_value
    assert props == {"hsip.fingerprint": "f1", "hsip.gen": "2"}
    node.createOrReplace.assert_called_once()
    w.append.assert_not_called()

    # table now exists: append() path, no re-partitioning / re-properties
    stub.catalog.tableExists.return_value = True
    df2 = mock.MagicMock()
    cat.write(df2, "index.bands", mode="append", partition_by=["batch_id"],
              meta={"fingerprint": "f1"})
    w2 = df2.writeTo.return_value
    w2.append.assert_called_once()
    w2.partitionedBy.assert_not_called()
    w2.tableProperty.assert_not_called()
    w2.createOrReplace.assert_not_called()


def test_overwrite_replaces_even_when_table_exists():
    """mode='overwrite' on an EXISTING table must re-create (snapshot
    replace), not append — resume overwrites stale checkpoints this way."""
    spark, cat = _cat()
    spark.catalog.tableExists.return_value = True
    df = mock.MagicMock()
    cat.write(df, "ckpt.runA.features", mode="overwrite",
              meta={"fingerprint": "new"})
    w = df.writeTo.return_value
    w.append.assert_not_called()
    w.tableProperty.assert_called_once_with("hsip.fingerprint", "new")
    w.tableProperty.return_value.createOrReplace.assert_called_once()


def _with_props(spark, props: dict):
    spark.sql.return_value.collect.return_value = list(props.items())


def test_properties_normalizes_hsip_prefix():
    spark, cat = _cat()
    _with_props(spark, {"hsip.fingerprint": "abc", "format-version": "2"})
    assert cat.properties("ckpt.runA.features") == {"fingerprint": "abc"}


def test_checkpoint_fingerprint_invalidates_on_iceberg():
    spark, cat = _cat()
    spark.catalog.tableExists.return_value = True
    _with_props(spark, {"hsip.fingerprint": "abc"})
    assert Checkpointer(cat, "runA", "abc").done("features")
    # config change -> different fingerprint -> stage recomputed
    assert not Checkpointer(cat, "runA", "OTHER").done("features")
    # resume disabled -> never reuse, even on matching fingerprint
    assert not Checkpointer(cat, "runA", "abc", reuse=False).done("features")


def test_sorted_write_declares_iceberg_write_order():
    spark, cat = _cat()
    spark.catalog.tableExists.return_value = False
    df = mock.MagicMock()
    cat.write(df, "t.sorted", sort_by=["v", "k"])
    # the data written NOW must itself be range-clustered: ALTER ...
    # WRITE ORDERED BY only governs future writers, so the initial
    # snapshot goes through repartitionByRange + sortWithinPartitions
    df.repartitionByRange.assert_called_once()
    assert df.repartitionByRange.call_args[0][1:] == ("v", "k")
    clustered = df.repartitionByRange.return_value \
        .sortWithinPartitions.return_value
    clustered.writeTo.return_value.createOrReplace.assert_called_once()
    df.writeTo.assert_not_called()  # never the unsorted frame
    spark.sql.assert_called_with(
        "ALTER TABLE ice.t.sorted WRITE ORDERED BY (v, k)")
    # appends inherit the declared write order: no ALTER re-issued —
    # but the appended data is still clustered before it lands. The
    # only SQL an append may issue is the SHOW TBLPROPERTIES read that
    # resolves recorded z-order layout before clustering (r6 layout-
    # inheritance fix, ADVICE.md r5).
    spark.reset_mock()
    spark.catalog.tableExists.return_value = True
    df2 = mock.MagicMock()
    cat.write(df2, "t.sorted", mode="append", sort_by=["v", "k"])
    clustered2 = df2.repartitionByRange.return_value \
        .sortWithinPartitions.return_value
    clustered2.writeTo.return_value.append.assert_called_once()
    for call in spark.sql.call_args_list:
        assert call[0][0].startswith("SHOW TBLPROPERTIES"), call
    assert not any(
        c[0][0].startswith("ALTER") for c in spark.sql.call_args_list)


def test_merge_into_issues_merge_sql():
    spark, cat = _cat()
    spark.catalog.tableExists.return_value = True
    df = mock.MagicMock()
    cat.merge_into(df, "t.m", ["k", "v"], validate_keys=False)
    sql = spark.sql.call_args[0][0]
    assert sql.startswith("MERGE INTO ice.t.m t USING hsip_merge_src_")
    assert "ON t.k = s.k AND t.v = s.v" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    df.createOrReplaceTempView.assert_called_once()


def test_compact_calls_rewrite_data_files():
    spark, cat = _cat()
    # un-clustered table: the property probe finds nothing -> binpack
    spark.sql.return_value.collect.return_value = []
    cat.compact("t.c")
    spark.sql.assert_called_with(
        "CALL ice.system.rewrite_data_files(table => 't.c')")


def test_evolving_append_sets_merge_schema_option():
    spark, cat = _cat()
    spark.catalog.tableExists.return_value = True
    df = mock.MagicMock()
    cat.write(df, "t.ev", mode="append", evolve_schema=True)
    df.writeTo.return_value.option.assert_called_once_with(
        "mergeSchema", "true")
    df.writeTo.return_value.option.return_value.append.assert_called_once()
    # default append takes the strict path (no option call)
    df2 = mock.MagicMock()
    cat.write(df2, "t.ev", mode="append")
    df2.writeTo.return_value.option.assert_not_called()
    df2.writeTo.return_value.append.assert_called_once()


def test_zorder_compact_dispatches_zorder_sort_strategy():
    spark, cat = _cat()
    # the r6 SQL-injection guard validates zorder names against the live
    # schema before interpolating them into the CALL statement
    spark.read.table.return_value.columns = ["user_id", "day", "payload"]
    cat.compact("t.z", zorder_by=["user_id", "day"])
    spark.sql.assert_called_once_with(
        "CALL ice.system.rewrite_data_files(table => 't.z', "
        "strategy => 'sort', sort_order => 'zorder(user_id, day)')")


def test_zorder_compact_rejects_unknown_columns():
    """Table properties are an out-of-band string channel: a name that
    is not a real column (quotes, parens, a comma mis-split) must fail
    loudly instead of being interpolated into the CALL SQL."""
    import pytest

    spark, cat = _cat()
    spark.read.table.return_value.columns = ["user_id", "day"]
    with pytest.raises(ValueError, match="not in table schema"):
        cat.compact("t.z", zorder_by=["user_id", "day)'; DROP"])


def test_zorder_write_records_property_and_plain_compact_reads_it():
    """write(zorder_by=...) must leave clustering memory in table
    properties so a PLAIN compact() re-clusters instead of silently
    bin-packing the z-order away (fallback parity: the manifest)."""
    spark, cat = _cat()
    df = mock.MagicMock()
    cat.write(df, "t.zp", zorder_by=["a", "b"], zorder_bits=8)
    # the write dispatches on the z-clustered frame: persist ->
    # withColumn -> repartitionByRange -> sortWithinPartitions -> drop
    final = (df.persist.return_value.withColumn.return_value
             .repartitionByRange.return_value.sortWithinPartitions
             .return_value.drop.return_value)
    wt = final.writeTo.return_value
    wt.tableProperty.assert_called_once_with("hsip.zorder_by", "a,b")
    wt.tableProperty.return_value.tableProperty.assert_called_once_with(
        "hsip.zorder_bits", "8")
    df.persist.return_value.unpersist.assert_called_once()

    spark2, cat2 = _cat()
    row = mock.MagicMock()
    row.__getitem__.side_effect = lambda i: ["hsip.zorder_by", "a,b"][i]
    spark2.sql.return_value.collect.return_value = [row]
    spark2.read.table.return_value.columns = ["a", "b", "p"]
    cat2.compact("t.zp")
    spark2.sql.assert_called_with(
        "CALL ice.system.rewrite_data_files(table => 't.zp', "
        "strategy => 'sort', sort_order => 'zorder(a, b)')")


def test_partition_rows_from_iceberg_files_metadata():
    """Iceberg lineage comes from the table's ``files`` metadata table: its
    data file names lead with the writing task's partition number."""
    spark, cat = _cat()
    spark.read.table.return_value.select.return_value.collect.return_value = [
        ("s3://lake/t/data/00001-7-ab12-00001.parquet", 5),
        ("s3://lake/t/data/00000-6-ab12-00001.parquet", 3),
        ("s3://lake/t/data/00001-7-ab12-00002.parquet", 2),
    ]
    assert cat.partition_rows("ckpt.runA.features") == [(0, 3), (1, 7)]
    spark.read.table.assert_called_with("ice.ckpt.runA.features.files")
    spark.read.table.return_value.select.assert_called_with("file_path", "record_count")
