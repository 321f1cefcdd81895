"""Isolate the substr candidate-expansion chain at rung scale with a
noop sink (guide §1.4): fingerprint table is pre-materialized (untimed),
then the timed region is substr_candidates -> pairs -> noop write.

Usage: python bench/iso_substr.py [variant]
  v0        — current code path
  sizes_bc  — broadcast hint on the bsz>=2 size table (join-back + legs)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CONVS = os.path.join("/root/repo", ".bench_cache", "convs_n20000.parquet")


def main() -> None:
    variant = sys.argv[1] if len(sys.argv) > 1 else "v0"
    from pyspark.sql import functions as F

    import hsip.suffixes as S
    from hsip.barrier import Barrier, Regime
    from hsip.config import DedupConfig
    from hsip.session import get_spark
    from hsip.suffixes import fingerprint_table, substr_candidates

    cfg = DedupConfig()
    spark = get_spark(app_name=f"iso-substr-{variant}", master=f"local[{CPUS}]")
    convs = spark.read.parquet(CONVS).cache()
    convs.count()
    fps = fingerprint_table(convs, "conv_id", "doc_text", cfg).cache()
    n_fp = fps.count()  # untimed setup

    def variant_candidates(fp_df, tag_cache=False, bc_sizes=False):
        """Harness-local copy of the substr_candidates expansion with the
        experimental knobs; must stay output-identical to the real one."""
        cap = cfg.substr_bucket_cap
        fp = fp_df.repartition("fp_hash").cache()
        fp.count()
        sizes = fp.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("bsz")) \
            .filter(F.col("bsz") >= 2)
        if bc_sizes:
            sizes = F.broadcast(sizes)
        tagged = fp.join(sizes, "fp_hash")
        if tag_cache:
            tagged = tagged.cache()
            tagged.count()
        small = tagged.filter(F.col("bsz") <= cap).drop("bsz")
        x, y = small.alias("x"), small.alias("y")
        small_pairs = x.join(
            y,
            (F.col("x.fp_hash") == F.col("y.fp_hash"))
            & (F.col("x.id") < F.col("y.id")),
        ).select(
            F.col("x.id").alias("a"), F.col("y.id").alias("b"),
            F.col("x.pos").alias("pos_a"), F.col("y.pos").alias("pos_b"),
        )
        hot = tagged.filter(F.col("bsz") > cap)
        hot_min = hot.groupBy("fp_hash").agg(
            F.min_by(F.struct("id", "pos"), "id").alias("m")
        )
        hot_pairs = (
            hot.join(hot_min, "fp_hash")
            .filter(F.col("id") != F.col("m.id"))
            .select(
                F.col("m.id").alias("a"), F.col("id").alias("b"),
                F.col("m.pos").alias("pos_a"), F.col("pos").alias("pos_b"),
            )
        )
        anchors = small_pairs.unionByName(hot_pairs)
        acap = cfg.max_anchors_per_pair
        return (
            anchors.groupBy("a", "b")
            .agg(F.sort_array(F.collect_list(F.struct("pos_a", "pos_b"))).alias("anc"))
            .select(
                "a", "b", F.size("anc").alias("n_anchors"),
                F.transform(F.slice("anc", 1, acap), lambda v: v["pos_a"]).alias("pos_as"),
                F.transform(F.slice("anc", 1, acap), lambda v: v["pos_b"]).alias("pos_bs"),
            )
            .withColumn("channel", F.lit("substr"))
        )

    t0 = time.time()
    if variant == "v0":
        # an eager regime, as the pipeline passes it at scale: the shipped
        # path then materializes the join-back too
        pairs, hot = substr_candidates(fps, cfg, Regime(Barrier()))
    elif variant == "v0copy":
        pairs = variant_candidates(fps)
    elif variant == "tag_cache":
        pairs = variant_candidates(fps, tag_cache=True)
    elif variant == "sizes_bc":
        pairs = variant_candidates(fps, bc_sizes=True)
    elif variant == "both":
        pairs = variant_candidates(fps, tag_cache=True, bc_sizes=True)
    else:
        raise SystemExit(f"unknown variant {variant}")
    pairs.write.format("noop").mode("overwrite").save()
    wall = round(time.time() - t0, 3)
    n_pairs = pairs.count()
    chk = pairs.agg(
        F.sum(F.xxhash64("a", "b", "n_anchors").cast("decimal(38,0)")).cast("string")
    ).collect()[0][0]
    print(json.dumps({
        "variant": variant, "n_fp": n_fp, "wall_s": wall,
        "n_pairs": n_pairs, "checksum": chk,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
