"""Fixed, explicit schemas for every table the pipeline touches.

Never inferred in the pipeline proper (SURVEY.md §1.2). The ``transcripts``
shape is authoritative spec (/root/repo/BASELINE.json:15 input_hint).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- input (authoritative shape, BASELINE.json:15) -------------------------
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

TRANSCRIPTS_TRUTH = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("gt_cluster", T.StringType(), False),
        T.StructField("dup_kind", T.StringType(), False),
    ]
)

# --- derived ---------------------------------------------------------------
CONVERSATIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("doc_text", T.StringType(), True),
        T.StructField("n_turns", T.IntegerType(), False),
    ]
)

MINHASH_SIGS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("sig", T.ArrayType(T.LongType()), False),
    ]
)

CANDIDATE_PAIRS = T.StructType(
    [
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.StringType(), False),
        T.StructField("channel", T.StringType(), False),
    ]
)

VERIFIED_PAIRS = T.StructType(
    [
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.StringType(), False),
        T.StructField("jaccard", T.DoubleType(), True),
        T.StructField("hamming", T.IntegerType(), True),
        T.StructField("substr_len", T.IntegerType(), True),
        T.StructField("channels", T.ArrayType(T.StringType()), False),
        T.StructField("verdict", T.BooleanType(), False),
    ]
)

CLUSTERS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("cluster_id", T.StringType(), False),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("finished_at", T.TimestampType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
