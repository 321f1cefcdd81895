"""S6 lineage + metrics tables, and NFC normalization option."""

from hsip.catalog import Catalog
from hsip.config import DedupConfig
from hsip.metrics import Recorder, StageTimer


def test_metrics_and_lineage_rows(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    rec = Recorder(spark, cat, run_id="r1")
    with StageTimer(rec, "stageA"):
        pass
    rec.metric("stageA", "truncated_buckets", 3)
    rec.flush()
    m = cat.read("metrics")
    rows = {(r.stage, r.key): r.value for r in m.collect()}
    assert rows[("stageA", "truncated_buckets")] == 3.0
    assert ("stageA", "wall_sec") in rows
    assert all(r.run_id == "r1" for r in m.collect())

    # lineage: rows per write partition of a committed table, buffered
    # until flush
    cat.write(spark.range(100).repartition(4), "ckpt.r1.stageA")
    rec.lineage("stageA", cat.partition_rows("ckpt.r1.stageA"), fingerprint="fp123")
    assert not cat.exists("lineage")
    rec.flush()
    lin = cat.read("lineage").collect()
    assert sum(r.rows for r in lin) == 100
    assert all(r.fingerprint == "fp123" and r.stage == "stageA" for r in lin)
    assert sorted(r.partition_id for r in lin) == [0, 1, 2, 3]


def test_partition_rows_from_file_footers(spark, tmp_path):
    """Catalog.partition_rows reads the committed files' footers: one
    (write partition, rows) per task that wrote rows, summing to the
    table's count, with no job run."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(1000).repartition(5).filter("id % 7 != 0")
    cat.write(df, "t.p")
    rows = cat.partition_rows("t.p")
    assert [p for p, _ in rows] == list(range(5))
    assert sum(n for _, n in rows) == cat.read("t.p").count() == 857
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "footers")
    try:
        cat.partition_rows("t.p")
        assert not sc.statusTracker().getJobIdsForGroup("footers")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_observed_metrics_ride_the_action(spark):
    """An observation is filled in by the first action that runs its
    frame and lands as a metric on collect_observed; in-memory recorders
    keep it."""
    from pyspark.sql import functions as F

    rec = Recorder(spark, None, run_id="obs")
    obs = rec.observation("stageB", "odd_rows")
    df = spark.range(50).observe(obs, F.count_if(F.col("id") % 2 == 1))
    assert df.filter("id > 10").count() == 39
    assert rec.collect_observed() == {"stageB": {"odd_rows": 25}}
    assert rec.recorded()[("stageB", "odd_rows")] == 25


def test_nfc_normalization_unifies_forms(spark):
    """é as NFC (U+00E9) vs NFD (e + U+0301) shingle identically with nfc=True."""
    from hsip.shingle import shingle_docs

    nfc_text = "café au lait très bon vraiment"
    nfd_text = "café au lait très bon vraiment"
    df = spark.createDataFrame([(1, nfc_text), (2, nfd_text)], "doc_id int, text string")
    off = {r.id: tuple(r.shingles) for r in
           shingle_docs(df, "doc_id", "text", DedupConfig(shingle_k=2)).collect()}
    on = {r.id: tuple(r.shingles) for r in
          shingle_docs(df, "doc_id", "text", DedupConfig(shingle_k=2, nfc=True)).collect()}
    assert off["1"] != off["2"]
    assert on["1"] == on["2"]


def test_nfc_in_fused_kernel(spark):
    from hsip.textkernel import featurize

    df = spark.createDataFrame(
        [(1, "café x y z w"), (2, "café x y z w")], "doc_id int, text string"
    )
    feats = {r.id: (tuple(r.shingles), r.simhash) for r in
             featurize(df, "doc_id", "text", DedupConfig(shingle_k=2, nfc=True)).collect()}
    assert feats["1"] == feats["2"]
