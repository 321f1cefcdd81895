"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full 3-channel near-duplicate clustering of the
                 sf0.001 ``documents`` fixture (SURVEY.md §7 M1/M6).
queries()      — one entry per implemented operator from SURVEY.md §2,
                 each (spark, sf_dir) -> DataFrame.
oracle_sql()   — matching ANSI SQL for DuckDB on the same parquet views.
                 Column names/aliases match the Spark output exactly; float
                 aggregates are rounded onto the decimal grid the exact
                 value lies on so both engines land on the same number.
Rows-only entries (hash-based dedup channels, iterative CC, sampling) have
no oracle_sql — the driver records the weaker rows-only check for those.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _norm(col):
    # keep in lockstep with the DuckDB expression _NORM_SQL below
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


_NORM_SQL = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"

# Shared DuckDB CTE: the _docs_as_turns corpus (30-token chunk grid over
# normalized documents text + planted stale turn-0 re-writes) deduped to
# the latest-ts turn version — the C1 input both transcript oracles
# (roundtrip + equality audit) build on. Ends at ``dedup``; callers
# append further CTEs with a leading comma.
_TURNS_DEDUP_CTE = f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split({_NORM_SQL.format(c='text')}, ' '),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            n AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) = 0 THEN 0
                            WHEN len(toks) <= 30 THEN 1
                            ELSE CAST(ceil(len(toks) / 30.0) AS INT)
                       END AS nc
                FROM t
            ),
            e AS (
                SELECT doc_id, toks, unnest(range(0, nc)) AS turn_idx
                FROM n
            ),
            turns AS (
                SELECT doc_id AS conv_id, turn_idx,
                       array_to_string(
                           toks[turn_idx * 30 + 1 : turn_idx * 30 + 30], ' '
                       ) AS text,
                       to_timestamp(turn_idx) AS ts
                FROM e
            ),
            with_stale AS (
                SELECT conv_id, turn_idx, text, ts FROM turns
                UNION ALL
                SELECT conv_id, turn_idx, 'STALE::' || text,
                       to_timestamp(-1000)
                FROM turns WHERE turn_idx = 0
            ),
            dedup AS (
                SELECT conv_id, turn_idx, text FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY conv_id, turn_idx ORDER BY ts DESC
                    ) AS rn
                    FROM with_stale
                ) WHERE rn = 1
            )"""


def _attach_rank(top: DataFrame, metric: str, key: str) -> DataFrame:
    """rk over an already-top-k frame WITHOUT a global window.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject (parallel
    partial top-k per partition, merged on the driver); ranking the k
    survivors is then a broadcast self-join counting rows strictly ahead
    in (metric DESC, key ASC) order — no single-partition WindowExec
    anywhere in the plan, so the pattern survives a 100x scale-up
    (VERDICT.md r1 finding 4)."""
    x, y = top.alias("x"), top.alias("y")
    ahead = (F.col(f"y.{metric}") > F.col(f"x.{metric}")) | (
        (F.col(f"y.{metric}") == F.col(f"x.{metric}"))
        & (F.col(f"y.{key}") < F.col(f"x.{key}"))
    )
    return (
        x.join(F.broadcast(y), ahead, "left")
        .groupBy(F.col(f"x.{key}").alias(key), F.col(f"x.{metric}").alias(metric))
        .agg((F.count(F.col(f"y.{key}")) + 1).cast("int").alias("rk"))
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 3-channel dedup of sf0.001 documents -> cluster table."""
    from hsip.config import DedupConfig
    from hsip.pipeline import run_documents

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    cfg = DedupConfig(jaccard_threshold=0.7)
    res = run_documents(spark, docs, "doc_id", "text", cfg)
    return res.clusters.join(
        res.representatives, "cluster_id"
    ).select("id", "cluster_id", "cluster_size")


# ---------------------------------------------------------------------------
# relational operator queries (SURVEY.md §2.7 Q1-Q17)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_revenue_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    top = rev.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    return _attach_rank(top, "revenue", "l_orderkey").select(
        "l_orderkey", "revenue", "rk"
    )


def q5_region_order_volume(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("r_name")
    )


def outer_join_customer_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def anti_join_customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def semi_join_parts_ordered(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand"
    )


def rollup_order_counts(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


def cube_order_stats(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


def explode_token_frequencies(spark, sf_dir):
    """Q17 explode/lateral: top-20 tokens across documents by frequency."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(_norm(F.col("text")), " ")).alias("token")
    )
    agg = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    top = agg.orderBy(F.desc("freq"), F.asc("token")).limit(20)
    return _attach_rank(top, "freq", "token").select("token", "freq", "rk")


def pivot_returnflag_linestatus(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias("n_finished"),
    )


def window_top2_per_order(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("l_orderkey", "l_linenumber", "rn")
    )


def window_running_quantity(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 3)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
    )


def latest_order_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


def setop_nation_overlap(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp).unionByName(
        cust.distinct().exceptAll(supp.distinct()).withColumn(
            "nationkey", F.col("nationkey") + 1000
        )
    )


def distinct_parts_per_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


def crossjoin_region_priority(spark, sf_dir):
    region = _t(spark, sf_dir, "region").select("r_name")
    prio = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return region.crossJoin(prio)


def topk_expensive_lineitems(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(15)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# events: timestamps, JSON, windows, range join (R6, R7, Q9, Q12-13)
# ---------------------------------------------------------------------------

def events_daily_rollup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def events_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def events_user_gaps(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ -> session-UTC epoch
    gaps = ev.withColumn("gap_sec", epoch - F.lag(epoch).over(w))
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("gap_sec"), 4).alias("avg_gap_sec"),
        F.max("gap_sec").alias("max_gap_sec"),
    )


def events_zorder_keys(spark, sf_dir):
    """Morton (Z-order) clustering keys (hsip/catalog.py zbucket +
    zorder_key) over (user_id, epoch-day) — the storage-layout key that
    keeps per-file min/max stats tight on BOTH columns for multi-column
    file skipping at 100-TB scale. Exact integer arithmetic end-to-end,
    so DuckDB replicates the bit interleave value-for-value with
    //, &, <<, |. Fixed [lo, hi] grid bounds (not data-derived) keep
    the oracle deterministic."""
    from hsip.catalog import zbucket, zorder_key

    ev = _t(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
    return ev.select(
        "event_id",
        zorder_key(
            [zbucket(F.col("user_id"), 0, 1023, 8),
             zbucket(day, 19600, 20623, 8)],
            8,
        ).alias("zkey"),
    )


def events_burst_pairs(spark, sf_dir):
    """Range join: same-user event pairs within 60 seconds (Q9 theta join)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.event_id") > F.col("a.event_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (
            F.col("b.ts").cast("timestamp").cast("long")
            - F.col("a.ts").cast("timestamp").cast("long")
            <= 60
        ),
    )
    return pairs.groupBy(F.col("a.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_burst_pairs")
    )


def events_type_map_profile(spark, sf_dir):
    """R10 map scalar functions, oracle-verified: build a per-user
    map<event_type, count> with map_from_entries, read it back with
    element_at / size / map_filter, and pull the JSON payload through a
    map<string,int> (from_json + element_at). Map construction order is
    irrelevant to the output (lookups are key-addressed), so the result
    is deterministic and DuckDB reproduces it with conditional
    aggregates — the map layer is pure derivation."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "k_val", F.element_at(F.from_json("props", "map<string,int>"), "k")
    )
    per_ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("k_val").alias("ks")
    )
    agg = per_ut.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("m"),
        F.sum("ks").alias("ksum"),
    )
    return agg.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0))
        .cast("long").alias("clicks"),
        F.coalesce(F.element_at("m", F.lit("error")), F.lit(0))
        .cast("long").alias("errors"),
        F.size(F.map_filter("m", lambda _, v: v >= 10))
        .cast("long").alias("heavy_types"),
        F.col("ksum").cast("long").alias("k_sum"),
    )


def events_sessionization(spark, sf_dir):
    """Gap-based sessionization (Q12+Q13 composed): a session opens on the
    first event and after any >12h inactivity gap; session ids are the
    running sum of break flags per user. Two stacked windows (lag, then
    sum) and the final groupBy all share one hash-partitioning on
    user_id, so the whole operator costs a single shuffle — the classic
    log-pipeline step upstream of per-session sampling/labeling at
    100 TB. Oracle: identical lag/sum windows in DuckDB."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gapped = ev.select(
        "user_id", "ts", "event_id", "value", epoch.alias("ep"),
        F.when(
            F.lag(epoch).over(w).isNull()
            | ((epoch - F.lag(epoch).over(w)) > 43200),
            1,
        ).otherwise(0).alias("is_new"),
    )
    sess = gapped.select(
        "user_id", "value", "ep",
        F.sum("is_new").over(w).cast("long").alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ep") - F.min("ep")).alias("duration_sec"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# documents: normalization, dedup oracles, text analysis (R2-R3, G1, X2)
# ---------------------------------------------------------------------------

def dedup_exact_clusters(spark, sf_dir):
    """Exact dedup: shuffle key is md5(norm) — a 128-bit digest — so the
    full document text never crosses the exchange (VERDICT.md r1
    finding 5); groupBy + join-back instead of a window keeps the
    aggregation map-side-combining."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "h", F.md5(_norm(F.col("text")))
    )
    grp = docs.groupBy("h").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return docs.select("doc_id", "h").join(grp, "h").select(
        "doc_id", "cluster_id", "cluster_size"
    )


def dedup_doc_weights(spark, sf_dir):
    """Soft dedup: instead of REMOVING duplicates, emit a per-doc
    training weight 1/cluster_size so each distinct text contributes
    unit total loss mass however many copies exist (the re-weighting
    alternative to hard removal — keeps data volume for curriculum /
    shard-balance reasons while neutralizing duplicate over-counting).
    Same md5-keyed narrow exchange as dedup_exact_clusters; the weight
    is a projection over the size column — no extra shuffle."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "h", F.md5(_norm(F.col("text")))
    )
    grp = docs.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    return docs.select("doc_id", "h").join(grp, "h").select(
        "doc_id",
        "n_copies",
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
    )


def dedup_quality_reps(spark, sf_dir):
    """Quality-aware canonical keeper per exact-dup cluster (RefinedWeb /
    CCNet policy: keep the BEST copy, not an arbitrary one). Members of
    an exact-normalized cluster differ in raw text, so 'most complete
    raw copy' = max n_chars, ties by max doc_id. One map-side-combining
    aggregate via cc.quality_representatives (max(struct) partial_max —
    no per-cluster window sort)."""
    from hsip.cc import quality_representatives

    docs = _t(spark, sf_dir, "documents").withColumn(
        "h", F.md5(_norm(F.col("text")))
    )
    clusters = docs.groupBy("h").agg(F.min("doc_id").alias("cluster_id")).join(
        docs.select("doc_id", "h"), "h"
    ).select(F.col("doc_id").alias("id"), "cluster_id")
    scores = docs.select("doc_id", F.col("n_chars").cast("long").alias("q"))
    return quality_representatives(
        clusters, scores, id_col="doc_id", score_col="q"
    ).select(
        "cluster_id",
        F.col("representative").alias("rep_id"),
        F.col("rep_score").alias("rep_n_chars"),
        "cluster_size",
    )


def dedup_exact_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").withColumn("h", F.md5(_norm(F.col("text"))))
    a, b = docs.alias("a"), docs.alias("b")
    return a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))


def fuzzy_part_name_pairs(spark, sf_dir):
    """Record-linkage fuzzy matching (Fellegi-Sunter block->compare) over
    DISTINCT part names: blocked Levenshtein via hsip/linkage.py. The
    blocking key (trailing noun) reuses the generic bucket->pair
    expansion (lsh.pairs_from_buckets); compare is JVM-side
    F.levenshtein — compare cost scales with distinct names, never
    corpus rows."""
    from hsip.barrier import Regime
    from hsip.linkage import fuzzy_name_pairs

    part = _t(spark, sf_dir, "part")
    with Regime() as regime:
        return regime.barrier(
            fuzzy_name_pairs(part, "p_name", max_dist=3, regime=regime).select(
                "name_a", "name_b", "n_a", "n_b",
                F.col("dist").cast("long").alias("dist"),
            )
        )


def pii_redacted_docs(spark, sf_dir):
    """PII redaction (hsip/redact.py) — regexp mask + audit counts, pure
    JVM codegen, zero shuffle. The corpus is synthetic word-soup with no
    natural PII, so the query plants deterministic doc_id-derived
    contact strings (email/phone/ip/id, each present on a different
    doc_id modulus) into the text FIRST — both engines build the same
    string, so the oracle hash pins the full regex-replace + count
    semantics on varying data, not on an all-zeros no-op."""
    from hsip.redact import redact_pii

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 3 != 0, F.concat(
            F.lit(" reach user"), did.cast("string"), F.lit("@example.org"))
        ).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.concat(
            F.lit(" call 555-867-"),
            F.lpad((did % 10000).cast("string"), 4, "0"))
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".7"))
        ).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" id 123-45-6789")).otherwise(F.lit("")),
    )
    return redact_pii(docs.select("doc_id", aug.alias("aug")), "aug").select(
        "doc_id", "text_redacted", "n_email", "n_phone", "n_ipv4", "n_idnum"
    )


def doc_spans_removed(spark, sf_dir):
    """Duplicate-span removal (hsip/spans.py remove_spans) — the ACL'22
    rewrite step. Spans are doc_id-derived (overlapping, nested,
    full-doc, and absent cases all occur across the moduli) so the
    DuckDB oracle pins clamp + merge + excision semantics on varying
    data."""
    from hsip.spans import remove_spans

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def mk(s, e):
        return F.struct(F.lit(s).alias("start"), F.lit(e).alias("end"))

    spans = docs.select(
        did.alias("id"),
        F.explode(F.filter(F.array(
            F.when(did % 2 == 0, mk(5, 25)),
            F.when(did % 3 == 0, mk(20, 40)),
            F.when(did % 5 == 0, mk(30, 35)),
            F.when(did % 7 == 0, mk(0, 1_000_000)),
        ), lambda s: s.isNotNull())).alias("s"),
    ).select("id", "s.start", "s.end")
    return remove_spans(docs, "doc_id", "text", spans).select(
        "doc_id", "text_clean", "n_removed"
    )


def doc_tfidf_top_terms(spark, sf_dir):
    """TF-IDF keyword extraction (hsip/textstats.py tfidf_top_terms):
    smoothed-idf top-3 terms per doc, deterministic tie-break on term."""
    from hsip.textstats import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3).withColumnRenamed(
        "id", "doc_id"
    )


def doc_split_assignment(spark, sf_dir):
    """Deterministic content-addressed train/val/test split
    (hsip/splits.py): md5-bucket assignment, stable across reruns,
    repartitions, and incremental appends — pure projection."""
    from hsip.splits import assign_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return assign_split(docs, "doc_id", salt="exp1")


def stratified_sample_docs(spark, sf_dir):
    """Deterministic per-stratum downsampling (hsip/splits.py
    stratified_sample): md5-bucket survival, stable across reruns /
    repartitions / appends — pure projection+filter, zero shuffle."""
    from hsip.splits import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "es": 0.25},
        salt="exp1", default=0.1,
    )


def doc_sequence_packing(spark, sf_dir):
    """Training-sequence packing (hsip/packing.py): shard-local running
    token sums assign each doc a (shard, seq_id, offset) slot — windows
    bounded per shard, never a global sort."""
    from hsip.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "doc_id", "text", seq_len=1024, n_shards=4, salt="exp1"
    )


def curation_verdict_docs(spark, sf_dir):
    """C4/Gopher-style curation policy (hsip/textstats.py
    curation_verdict): threshold the cheap quality signals, emit keep
    (0/1) + first-failing-rule reason — one codegen projection."""
    from hsip.textstats import curation_verdict

    docs = _t(spark, sf_dir, "documents")
    return curation_verdict(docs, "doc_id", "text")


def token_jaccard_pairs(spark, sf_dir):
    """Blocked n-gram-Jaccard matching, fully SQL-expressible (V2 oracle).

    ORACLE-ONLY BASELINE: O(block^2) within (lang, source) by design so
    DuckDB can replicate it exactly. Do NOT copy into the pipeline — the
    scale path for Jaccard near-dups is the MinHash+LSH channel
    (hsip/minhash.py + hsip/lsh.py), candidate volume ~linear."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split(_norm(F.col("text")), " ")).alias("toks"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.round(
            F.size(F.array_intersect("a.toks", "b.toks"))
            / F.size(F.array_union("a.toks", "b.toks")),
            6,
        ).alias("jaccard"),
    )
    return pairs.filter(F.col("jaccard") >= 0.5)


def token_containment_pairs(spark, sf_dir):
    """Blocked near-superset matching via containment |A∩B|/min(|A|,|B|)
    (hsip/verify.py containment_col — Broder '97's second measure).

    ORACLE-ONLY BASELINE like token_jaccard_pairs: O(block^2) within
    (lang, source) so DuckDB replicates it exactly. The scale path
    reuses the MinHash+LSH candidate channel; containment is a verify-
    stage predicate there, never an all-pairs join."""
    from hsip.verify import containment_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split(_norm(F.col("text")), " ")).alias("toks"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.toks").alias("shingles_a"),
        F.col("b.toks").alias("shingles_b"),
    ).select(
        "id_a", "id_b", F.round(containment_col(), 6).alias("containment")
    )
    return pairs.filter(F.col("containment") >= 0.8)


def token_weighted_jaccard_pairs(spark, sf_dir):
    """Blocked MULTISET (tf-weighted) Jaccard — the quantity the ICWS
    weighted-MinHash channel (hsip/wminhash.py) estimates: J_w =
    sum min(c_a, c_b) / sum max(c_a, c_b) over token counts, computed
    via the identity sum max = tot_a + tot_b - sum min so only shared
    tokens join.

    ORACLE-ONLY BASELINE like token_jaccard_pairs: exact within
    (lang, source) blocks so DuckDB replicates it value-for-value. The
    scale path is attach_weighted_minhash + the standard LSH banding —
    candidate volume ~linear, this exact form never runs on a corpus."""
    tok = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang", "source",
            F.explode(F.split(_norm(F.col("text")), " ")).alias("tok"),
        )
        .groupBy("doc_id", "lang", "source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = tok.groupBy("doc_id").agg(F.sum("cnt").alias("tot"))
    inter = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.sum(F.least("a.cnt", "b.cnt")).alias("inter"))
    )
    out = (
        inter.join(tot.alias("ta"), F.col("id_a") == F.col("ta.doc_id"))
        .join(tot.alias("tb"), F.col("id_b") == F.col("tb.doc_id"))
        .select(
            "id_a", "id_b",
            F.round(
                F.col("inter")
                / (F.col("ta.tot") + F.col("tb.tot") - F.col("inter")),
                6,
            ).alias("wjaccard"),
        )
    )
    return out.filter(F.col("wjaccard") >= 0.4)


def dataset_card(spark, sf_dir):
    """One-row corpus datasheet: the summary a training-data release
    ships (docs, tokens, language spread, exact-dup rate) — all
    partial-aggregable built-ins, one global agg, no window/sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    ).cast("long")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.round(F.avg(toks), 4).alias("mean_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_dup_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


def doc_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(_norm(F.col("text")), " ")).cast("long").alias("n_tokens"),
        F.length(_norm(F.col("text"))).cast("long").alias("n_chars_norm"),
        F.size(F.array_distinct(F.split(_norm(F.col("text")), " ")))
        .cast("long")
        .alias("n_distinct_tokens"),
    )


def lang_profile(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def doc_quality_scores(spark, sf_dir):
    """Quality scoring: lexical diversity + length score (text analysis)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(_norm(F.col("text")), " ")
    return docs.select(
        "doc_id",
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("diversity"),
        F.when(F.col("n_chars") >= 300, "long")
        .when(F.col("n_chars") >= 150, "medium")
        .otherwise("short")
        .alias("length_class"),
    )


def doc_char_entropy(spark, sf_dir):
    """Unigram character entropy per doc (hsip/textstats.py
    char_entropy_col) — the cheap boilerplate/degenerate-text filter.
    Zero-shuffle projection in Spark; DuckDB replicates the math via
    unnest + groupBy (different summation order, hidden by round(6))."""
    from hsip.textstats import char_entropy_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(char_entropy_col(_norm(F.col("text"))), 6).alias("char_entropy"),
    )


def cluster_bcubed_eval(spark, sf_dir):
    """B-cubed cluster-vs-truth evaluation (hsip/recall.py
    bcubed_scores) pinned cross-engine on a deterministic non-trivial
    pair of clusterings: pred = source partition, truth = lang
    partition (20 x 5 cross-cutting cells over the documents fixture).
    Never materializes within-cluster pairs — item sums reduce to
    Σ_cells ov²/|P| and Σ_cells ov²/|T|."""
    from hsip.recall import bcubed_scores

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(F.col("doc_id").alias("id"),
                       F.col("source").alias("cluster_id"))
    truth = docs.select(F.col("doc_id").alias("id"),
                        F.col("lang").alias("cluster_id"))
    return bcubed_scores(pred, truth)


def cluster_ari_eval(spark, sf_dir):
    """Adjusted Rand Index (hsip/recall.py adjusted_rand) on the same
    source-vs-lang clustering pair as cluster_bcubed_eval — the
    chance-corrected companion metric, pinned cross-engine via the
    identical contingency-cell algebra in DuckDB."""
    from hsip.recall import adjusted_rand

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(F.col("doc_id").alias("id"),
                       F.col("source").alias("cluster_id"))
    truth = docs.select(F.col("doc_id").alias("id"),
                        F.col("lang").alias("cluster_id"))
    return adjusted_rand(pred, truth)


def doc_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(_norm(F.col("text"))).alias("fingerprint"))


def doc_chunks(spark, sf_dir):
    """Training-sample chunking (overlapping token windows) — the pure-SQL
    scale path from hsip/chunking.py; the U6 Python-UDTF twin is tested
    for equality in tests/test_chunking.py."""
    from hsip.chunking import chunk_docs
    from hsip.normalize import tokens_col

    docs = _t(spark, sf_dir, "documents")
    return chunk_docs(
        docs, "doc_id", tokens_col(_norm(F.col("text"))),
        chunk_size=40, overlap=10,
    ).select(
        F.col("id").alias("doc_id"), "chunk_idx", "chunk_text", "n_chunk_tokens"
    )


def minhash_e2e_clusters(spark, sf_dir):
    """End-to-end MinHash -> LSH -> exact-Jaccard verify -> connected
    components, oracle-verifiable: with r=1 bands over num_perm=256
    coordinates a J>=0.7 pair is a candidate with probability
    1-(1-J)^256 (~1 - 1e-134) and caps are disabled, so the output is
    exactly "connected components of the Jaccard>=0.7 graph" — which
    DuckDB reproduces with brute-force pair enumeration + a recursive-CTE
    reachability closure. Upgrades the flagship pipeline from rows-only
    to hash-verified (VERDICT.md round 1, item 1)."""
    from hsip.config import DedupConfig
    from hsip.pipeline import run_documents

    cfg = DedupConfig(
        num_perm=256, lsh_bands=256, lsh_rows=1,
        jaccard_threshold=0.7, bucket_cap=1_000_000,
    )
    docs = _t(spark, sf_dir, "documents")
    res = run_documents(
        spark, docs, "doc_id", "text", cfg, channels=("minhash_lsh",)
    )
    return res.clusters


def dedup_collapse_clusters(spark, sf_dir):
    """Exact-collapse mode (config.py collapse_exact) under the same
    oracle-able config as minhash_e2e_clusters, over a corpus with
    PLANTED byte-identical copies (every doc_id % 5 == 0 re-enters under
    doc_id + 100000 — derived identically in the DuckDB oracle). The
    near-dup channel sees one representative per distinct text; members
    rejoin as pre-verified exact edges, and the clusters must still equal
    connected components of the Jaccard>=0.7 graph, because byte-equal
    non-empty texts have Jaccard exactly 1."""
    from hsip.config import DedupConfig
    from hsip.pipeline import run_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    cfg = DedupConfig(
        num_perm=256, lsh_bands=256, lsh_rows=1,
        jaccard_threshold=0.7, bucket_cap=1_000_000,
        collapse_exact=True,
    )
    res = run_documents(
        spark, docs.unionByName(copies), "doc_id", "text", cfg,
        channels=("minhash_lsh",),
    )
    return res.clusters


def shingle_counts(spark, sf_dir):
    """G1 oracle without engine-specific hashing: distinct 3-gram counts."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(_norm(F.col("text")), " ").alias("toks")
    )
    k = 3
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - k),
        lambda i: F.concat_ws(" ", F.slice("toks", i + 1, k)),
    )
    return docs.select(
        "doc_id",
        F.when(F.size("toks") >= k, F.size(F.array_distinct(grams)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_shingles"),
    )


def doc_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality filters: most-frequent-2-gram share
    and duplicate-3-gram fraction per document (hsip.textstats
    .repetition_signals). id column renamed doc_id for the oracle."""
    from hsip.textstats import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id", "text").select(
        F.col("id").cast("long").alias("doc_id"),
        "top_2gram_frac",
        "dup_3gram_frac",
    )


def decontam_flagged_docs(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word-4-gram with the
    deterministic eval slice (doc_id % 7 == 0). One row per flagged
    non-eval doc with its distinct shared-gram count."""
    from hsip.textstats import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs, "doc_id", "text", F.col("doc_id") % 7 == 0, k=4
    ).select(F.col("id").cast("long").alias("doc_id"), "n_shared_4grams")


# ---------------------------------------------------------------------------
# embeddings: similarity search (brute-force cosine top-k baseline)
# ---------------------------------------------------------------------------

def embedding_topk_neighbors(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q")
    )
    dot = F.expr(
        "aggregate(zip_with(q, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    nq = F.expr(
        "sqrt(aggregate(q, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    nd = F.expr(
        "sqrt(aggregate(embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", (dot / (nq * nd)).alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )


def embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (brute force, oracle-able).

    ORACLE-ONLY BASELINE: the id_a < id_b join is a nested-loop cartesian
    by design so DuckDB can replicate it exactly. Do NOT copy into the
    pipeline — the scale path for embedding near-dups is the bucketed
    random-hyperplane LSH in hsip/similarity.py (rhp_lsh_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    dot = F.expr(
        "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    na = F.sqrt(F.expr(
        "aggregate(ea, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    ))
    nb = F.sqrt(F.expr(
        "aggregate(eb, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    ))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (dot / (na * nb)).alias("cos"))
        .filter(F.col("cos") >= 0.42)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def semantic_dedup_clusters(spark, sf_dir):
    """Semantic dedup (SemDeDup, Abbas et al. arXiv:2303.09540): cluster
    vectors whose cosine >= 0.42 into connected components and flag one
    keeper per component. Runs hsip.similarity.semantic_dedup at
    n_cells=1 — the degenerate quantizer config whose within-cell
    comparison covers EVERY pair, so the output has exact threshold-graph
    semantics a DuckDB recursive-CTE CC can reproduce hash-for-hash
    (labels are ints; the 0.42 boundary clears float noise by 1.7e-3 on
    this fixture). The scale path (n_cells ~ N/target_cell_rows) is the
    same code with its measured-recall tradeoff pinned in
    tests/test_semantic_dedup.py."""
    from hsip.barrier import Regime
    from hsip.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    with Regime() as regime:
        return regime.barrier(semantic_dedup(emb, threshold=0.42, n_cells=1, regime=regime))


def embedding_label_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "sqrt(aggregate(embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
        )
    )


def token_counts(spark, sf_dir):
    """Whitespace + BPE-ish regex token counting (text analysis)."""
    from hsip.textstats import bpe_ish_token_count_col, token_count_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_token_count_col(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def quality_signals(spark, sf_dir):
    from hsip.textstats import attach_quality

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = attach_quality(docs, "text")
    return q.select(
        "doc_id", "n_tokens", "punct_ratio", "digit_ratio", "diversity"
    )


def lang_weighted_doclen(spark, sf_dir):
    """U5 grouped-agg pandas UDAF (hsip.textstats.weighted_mean) in a
    real agg: per-language mean document length weighted by whitespace
    token count. Inputs are integers, so the UDAF's float64 sums are
    exact and partition-order invariant — DuckDB's
    sum(chars*toks)/sum(toks) reproduces the value bit-for-bit, making
    this the oracle-verified exercise of the one pandas-UDF flavor the
    pipeline itself never needed (SURVEY.md §2 U5)."""
    from hsip.textstats import token_count_col, weighted_mean

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
    )
    return docs.groupBy("lang").agg(
        F.round(weighted_mean("n_chars", "n_tokens"), 6).alias("w_mean_len")
    )


def doc_length_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles (PERCENTILE_CONT semantics
    via Spark's `percentile`) of whitespace token counts per language —
    the length-distribution profile a corpus-curation pass cuts
    thresholds from. Exact rather than approx so DuckDB's quantile_cont
    reproduces the values; both engines round onto a shared grid. The agg
    shuffles once on `lang` with map-side partial aggregation."""
    from hsip.normalize import tokens_col

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang", F.size(tokens_col(_norm(F.col("text")))).alias("n_tokens")
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_tokens, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(n_tokens, 0.99)"), 4).alias("p99"),
    )


def paragraph_dup_stats(spark, sf_dir):
    """Paragraph-level exact dedup (the C4/CCNet removal unit): 10-token
    non-overlapping windows of normalized text, md5-fingerprinted; any
    window seen more than once corpus-wide is a removal candidate. One
    shuffle of narrow (hash, doc_id) pairs — the window text itself never
    shuffles — so bytes-on-the-wire scale with corpus token count, not
    text size squared."""
    from hsip.chunking import chunk_docs
    from hsip.normalize import tokens_col

    docs = _t(spark, sf_dir, "documents")
    paras = chunk_docs(
        docs, "doc_id", tokens_col(_norm(F.col("text"))), chunk_size=10, overlap=0
    )
    return (
        paras.select(F.md5("chunk_text").alias("para_md5"), "id")
        .groupBy("para_md5")
        .agg(
            F.count("*").cast("int").alias("n_occurrences"),
            F.countDistinct("id").cast("int").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


def paragraph_dedup_docs(spark, sf_dir):
    """Corpus-wide repeated-paragraph REMOVAL (the rewrite step on top
    of paragraph_dup_stats' inventory — the RefinedWeb/CCNet cleanup
    unit): same 10-token non-overlapping window grid; every window seen
    twice+ corpus-wide keeps only its globally-first occurrence
    (min (doc_id, para_idx)) and documents are rebuilt from survivors.
    hsip/paragraphs.py plan: one md5-keyed narrow-row inventory shuffle
    (window text never rides the hash exchange), an output-sized keeper
    join, ONE doc-keyed rebuild shuffle with in-group sort_array."""
    from hsip.chunking import chunk_docs
    from hsip.normalize import tokens_col
    from hsip.paragraphs import dedup_paragraphs, rebuild_docs

    docs = _t(spark, sf_dir, "documents")
    paras = chunk_docs(
        docs, "doc_id", tokens_col(_norm(F.col("text"))), chunk_size=10, overlap=0
    ).select(
        "id",
        F.col("chunk_idx").alias("para_idx"),
        F.col("chunk_text").alias("para"),
    )
    kept = dedup_paragraphs(paras)
    return rebuild_docs(kept, delim=" ").select(
        F.col("id").alias("doc_id"), "clean_text", "n_paras"
    )


def boilerplate_ngrams(spark, sf_dir):
    """Boilerplate mining: top-20 word trigrams by DOCUMENT frequency
    (each doc votes once per distinct gram — array_distinct applied
    before the exchange). Deterministic total order (doc_freq DESC,
    gram ASC) so the top-k set is engine-independent; plans as
    TakeOrderedAndProject."""
    from hsip.normalize import tokens_col
    from hsip.paragraphs import frequent_ngrams

    docs = _t(spark, sf_dir, "documents")
    return frequent_ngrams(
        docs, "doc_id", tokens_col(_norm(F.col("text"))), n=3, top_k=20
    )


def doc_lm_scores(spark, sf_dir):
    """CCNet-style LM quality proxy: add-one-smoothed bigram LM fit on
    the corpus itself, each doc scored by mean bigram negative
    log-likelihood (hsip/paragraphs.py — pure SQL, count-table joins,
    no Python)."""
    from hsip.normalize import tokens_col
    from hsip.paragraphs import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", tokens_col(_norm(F.col("text")))).select(
        F.col("id").alias("doc_id"), "n_bigrams", "mean_nll"
    )


def orders_priority_quartiles(spark, sf_dir):
    """ntile(4) quartile cuts within each order-priority partition (Q12
    window-ranking family, the one ranking fn rollup/rank/lag didn't
    cover). Partitioned by priority — never a global single-partition
    window — with a (price DESC, key ASC) total order so tile assignment
    is deterministic in both engines."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    q = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
    )
    return q.groupBy("o_orderpriority", "quartile").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


def orders_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (Q4 family beyond ROLLUP/CUBE): per-status,
    per-priority, and grand-total aggregates in one logical pass — Spark
    expands to a single Expand+HashAggregate, no self-union of scans."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# rows-only checks (hash-specific / iterative / sampling — no SQL oracle)
# ---------------------------------------------------------------------------

def lang_id_heuristic(spark, sf_dir):
    from hsip.textstats import lang_id_stopwords

    out = lang_id_stopwords(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "id", "lang_pred", F.col("lang_score").cast("long").alias("lang_score")
    )


def _lang_id_oracle_sql() -> str:
    from hsip.textstats import _STOPWORDS

    score_cols = ",\n                   ".join(
        "len(list_intersect(toks, [{}])) AS {}".format(
            ", ".join(f"'{w}'" for w in sorted(ws)), lang
        )
        for lang, ws in _STOPWORDS.items()
    )
    langs = list(_STOPWORDS)
    best = f"greatest({', '.join(langs)})"
    case = " ".join(
        f"WHEN {lang} = {best} THEN '{lang}'" for lang in langs
    )
    return rf"""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(list_filter(
                       string_split_regex(lower(text), '\s+'), x -> x <> ''
                   )) AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   {score_cols}
            FROM t
        )
        SELECT CAST(doc_id AS VARCHAR) AS id,
               CASE WHEN {best} = 0 THEN 'und' {case} END AS lang_pred,
               CAST({best} AS BIGINT) AS lang_score
        FROM s
    """


def ann_rhp_lsh_topk(spark, sf_dir):
    """Approximate nearest neighbors: random-hyperplane LSH + re-rank.

    An in-memory Recorder rides along so hot-bucket truncation counts are
    computed AND observable in the exercised path (no silent caps), not
    just when a warehouse catalog is attached."""
    from hsip.barrier import Regime
    from hsip.metrics import Recorder
    from hsip.similarity import rhp_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    rec = Recorder(spark, catalog=None, run_id="contract-ann")
    # the session keeps only the materialized top-k, not the corpus-sized
    # signature/band blocks (VERDICT r4 #3)
    with Regime() as regime:
        out = regime.barrier(rhp_lsh_topk(
            emb, k=3, dim=64, band_bits=4, seed=7, recorder=rec, regime=regime))
    rec.collect_observed()
    return out


def ann_ivf_full_probe_topk(spark, sf_dir):
    """IVF ANN (coarse k-means quantizer + cell probing + in-cell exact
    re-rank) at FULL probe (n_probe == n_cells): the probed cells cover
    the whole corpus, so the output equals exact brute-force cosine
    top-k and the same DuckDB oracle as embedding_topk_neighbors
    verifies the entire IVF plumbing — driver-bounded centroid fit,
    vectorized cell assignment, probe-list explode, per-cell window
    re-rank. The partial-probe recall/latency tradeoff (the actual
    100 TB configuration, n_cells ~ sqrt(N)) is pytest-gated against
    brute force in tests/test_similarity.py."""
    from hsip.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        emb, probes, k=3, dim=64, n_cells=16, n_probe=16, seed=7
    ).select("q_id", F.col("neighbor_id"))


def image_feature_extraction(spark, sf_dir):
    """Multimodal plumbing: binary payload -> (dims, phash) via mapInPandas."""
    from hsip.multimodal import extract_image_features, synthetic_media

    return extract_image_features(synthetic_media(spark, n=128))


def audio_feature_extraction(spark, sf_dir):
    """Multimodal audio plumbing: typed sample_rate metadata parsed
    JVM-side, stub decode, real RMS/peak/zero-crossing math (rows-only:
    features derive from the sha256-seeded stub decoder — no SQL oracle
    can reproduce them)."""
    from hsip.multimodal import extract_audio_features, synthetic_media

    return extract_audio_features(synthetic_media(spark, n=128))


def image_phash_near_dups(spark, sf_dir):
    """Image near-dup pairs by perceptual-hash Hamming distance, reusing
    the transcript pipeline's multi-table Hamming blocking + projection
    verify. Duplicate payloads are planted by re-ingesting every 8th
    image under a new media_id (rows-only: phash values come from the
    stub decoder's sha256-seeded pixels)."""
    from hsip.barrier import Regime
    from hsip.multimodal import (
        extract_image_features, phash_near_dup_pairs, synthetic_media,
    )

    media = synthetic_media(spark, n=96)
    images = media.filter("kind = 'image'")
    dups = (
        images.withColumn("rn", F.xxhash64("media_id") % 8)
        .filter("rn = 0")
        .drop("rn")
        .withColumn("media_id", F.concat(F.lit("copy-"), "media_id"))
    )
    feats = extract_image_features(images.unionByName(dups))
    with Regime() as regime:
        pairs = regime.barrier(phash_near_dup_pairs(feats, max_hamming=3, regime=regime))
    return pairs.orderBy("media_a", "media_b")


def video_frame_samples(spark, sf_dir):
    """Metadata-driven video frame-sampling plan (pure SQL: sequence +
    posexplode — zero Python). Frame metadata is derived deterministically
    from ``documents`` so DuckDB can replay the identical plan as its
    generate-series oracle."""
    from hsip.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.length("text") % 991 + 10).cast("int").alias("n_frames"),
        F.lit(24.0).alias("fps"),
    )
    plan = frame_sample_plan(meta, every_n=25)
    return plan.select(
        "media_id",
        F.col("sample_idx").cast("int").alias("sample_idx"),
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "ts_sec",
    )


def doc_minhash_signatures(spark, sf_dir):
    """Signature-shape invariant, SQL-oracled: every doc (including empty
    text — densification fills all coordinates) carries exactly num_perm
    signature values. The VALUES are hash-kernel-specific (no oracle can
    reproduce them); the shape is the part DuckDB can pin."""
    from hsip.config import DedupConfig
    from hsip.textkernel import featurize

    cfg = DedupConfig()
    docs = _t(spark, sf_dir, "documents")
    feats = featurize(docs, "doc_id", "text", cfg)
    return feats.select("id", F.size("sig").alias("sig_len"))


def minhash_lsh_clusters(spark, sf_dir):
    from hsip.config import DedupConfig
    from hsip.pipeline import run_documents

    docs = _t(spark, sf_dir, "documents")
    res = run_documents(
        spark, docs, "doc_id", "text",
        DedupConfig(jaccard_threshold=0.7), channels=("minhash_lsh",),
    )
    return res.clusters


def simhash_hamming_pairs(spark, sf_dir):
    from hsip.barrier import Regime
    from hsip.config import DedupConfig
    from hsip.lsh import mh_sh_candidates
    from hsip.textkernel import featurize
    from hsip.verify import verify_hamming

    cfg = DedupConfig()
    docs = _t(spark, sf_dir, "documents")
    feats = featurize(docs, "doc_id", "text", cfg)
    with Regime.for_run(cfg) as regime:
        pairs = mh_sh_candidates(feats, cfg, ("simhash",), regime)
        return regime.barrier(
            verify_hamming(pairs, cfg).filter("verdict").select("a", "b", "hamming"))


def substr_duplicate_spans(spark, sf_dir):
    """Substring channel with exact SPAN LENGTHS, oracle-verified: with
    caps off, winnowing guarantees every maximal common substring >= L
    contains a shared selected fingerprint, and anchor extension is an
    exact byte comparison — so substr_len per pair equals the maximum
    common substring length of the normalized texts. DuckDB reproduces
    it hash-free: shared L-char windows grouped by alignment diagonal
    (ib - ia); a maximal common substring of length S contributes a run
    of S-L+1 consecutive window starts on one diagonal, so
    max_span = max over diagonals of (island length + L - 1) — a
    gaps-and-islands rollup."""
    from hsip.barrier import Regime
    from hsip.config import DedupConfig
    from hsip.suffixes import fingerprint_table, substr_candidates, verify_substr

    cfg = DedupConfig(
        min_substr_len=120, winnow_window=30,
        substr_bucket_cap=1_000_000, max_anchors_per_pair=1_000_000,
    )
    docs = _t(spark, sf_dir, "documents")
    fps = fingerprint_table(docs, "doc_id", "text", cfg)
    with Regime.for_run(cfg) as regime:
        pairs, _ = substr_candidates(fps, cfg, regime)
        return regime.barrier(
            verify_substr(pairs, docs, "doc_id", "text", cfg, regime)
            .filter("verdict")
            .select("a", "b", "substr_len")
        )


def substr_pairs(spark, sf_dir):
    """Substring channel, oracle-checkable PAIR SET (VERDICT.md r2 item 2):
    two docs pair iff they share an exact >= L-char window of normalized
    text. With the bucket/anchor caps disabled, the winnowing guarantee
    (any common substring of length >= k+w-1 = L shares a selected
    fingerprint) plus exact anchor-extension verification make the channel
    output exactly "exists a common L-char window" — which DuckDB
    reproduces hash-free by enumerating every L-char window per doc and
    equi-joining on window equality."""
    from hsip.barrier import Regime
    from hsip.config import DedupConfig
    from hsip.suffixes import fingerprint_table, substr_candidates, verify_substr

    cfg = DedupConfig(
        min_substr_len=120, winnow_window=30,
        substr_bucket_cap=1_000_000, max_anchors_per_pair=1_000_000,
    )
    docs = _t(spark, sf_dir, "documents")
    fps = fingerprint_table(docs, "doc_id", "text", cfg)
    with Regime.for_run(cfg) as regime:
        pairs, _ = substr_candidates(fps, cfg, regime)
        return regime.barrier(
            verify_substr(pairs, docs, "doc_id", "text", cfg, regime)
            .filter("verdict")
            .select("a", "b")
        )


def decontam_substr_pairs(spark, sf_dir):
    """Cross-corpus substring decontamination, oracle-checkable pair set
    (suffixes.substr_decontaminate): documents split into a train corpus
    (doc_id % 10 != 0) and an eval corpus (doc_id % 10 == 0); a train
    doc is flagged iff it shares an exact >= L-char window of normalized
    text with some eval doc. Caps off -> the winnowing guarantee makes
    the channel exact at L, which DuckDB reproduces hash-free with the
    same window-enumeration join as substr_pairs, restricted to
    train x eval."""
    from hsip.barrier import Regime
    from hsip.config import DedupConfig
    from hsip.suffixes import substr_decontaminate

    cfg = DedupConfig(
        min_substr_len=120, winnow_window=30,
        substr_bucket_cap=1_000_000, max_anchors_per_pair=1_000_000,
    )
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    evals = docs.filter(F.col("doc_id") % 10 == 0)
    with Regime.for_run(cfg) as regime:
        return regime.barrier(
            substr_decontaminate(
                train, "doc_id", "text", evals, "doc_id", "text", cfg, regime,
                eval_fp_cap=1_000_000,
            )
            .filter("verdict")
            .select("train_id", "eval_id")
        )


def decontam_fuzzy_pairs(spark, sf_dir):
    """Fuzzy cross-corpus decontamination, oracle-checkable
    (incremental.minhash_decontaminate): train = doc_id % 10 != 0,
    eval = doc_id % 10 == 0; flag train docs whose 5-gram shingle
    Jaccard vs some eval doc clears 0.5. At the guaranteed-recall
    config (rows=1: any shared signature cell -> candidate, miss prob
    (1-J)^128 ~ 1e-39 at J >= 0.5) the channel is exhaustive and the
    exact-Jaccard verify makes the output value-identical to DuckDB's
    brute-force shingle-set Jaccard over the same split."""
    from hsip.barrier import Regime
    from hsip.config import DedupConfig
    from hsip.incremental import minhash_decontaminate

    cfg = DedupConfig(num_perm=128, lsh_bands=128, lsh_rows=1,
                      jaccard_threshold=0.5)
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    evals = docs.filter(F.col("doc_id") % 10 == 0)
    with Regime.for_run(cfg) as regime:
        return regime.barrier(
            minhash_decontaminate(
                train, "doc_id", "text", evals, "doc_id", "text", cfg, regime,
                eval_bucket_cap=1_000_000,
            )
            .filter("verdict")
            .select("train_id", "eval_id",
                    F.round("jaccard", 6).alias("jaccard"))
        )


def transcript_turn_equality_audit(spark, sf_dir):
    """C3 invariant (BASELINE.json:15), oracle-verified over SHARED data:
    per-turn byte-exact text equality under stable ordering. Dedupe the
    _docs_as_turns corpus (C1), reassemble (C2), recover turns by
    re-splitting ``doc_text`` on the turn separator (stronger than
    exploding the kept struct array — it audits the concat itself), and
    emit one summary row per conversation: n_turns (varies per conv, so
    the value-hash is non-vacuous) and n_violations (anti-join both
    directions; the invariant demands 0). DuckDB re-executes the same
    audit with string_agg + zipped unnest + EXCEPT ALL."""
    from hsip.reassemble import dedupe_turn_versions, reassemble

    deduped = dedupe_turn_versions(_docs_as_turns(spark, sf_dir)).select(
        "conv_id", "turn_idx", "text"
    )
    recovered = reassemble(
        dedupe_turn_versions(_docs_as_turns(spark, sf_dir))
    ).select(
        "conv_id",
        F.posexplode(F.split("doc_text", "\n", -1)).alias("turn_idx", "text"),
    )
    lost = deduped.exceptAll(recovered)
    extra = recovered.exceptAll(deduped)
    viol = (
        lost.unionByName(extra)
        .groupBy("conv_id")
        .agg(F.count("*").cast("int").alias("n_violations"))
    )
    return (
        deduped.groupBy("conv_id")
        .agg(F.count("*").cast("int").alias("n_turns"))
        .join(viol, "conv_id", "left")
        .select(
            "conv_id",
            "n_turns",
            F.coalesce("n_violations", F.lit(0)).cast("int").alias("n_violations"),
        )
    )


def transcript_reassembly_roundtrip(spark, sf_dir):
    """C1+C2 oracle-verified over SHARED data: synthesize turns from the
    documents table (30-token chunks -> (conv_id, turn_idx, role, text,
    tool, ts)), inject stale turn-0 re-writes with older ts, dedupe to
    the latest version (C1), reassemble under stable (conv_id, turn_idx)
    ordering (C2), and emit md5(doc_text) — which DuckDB reproduces with
    row_number + an ORDER BY string_agg. Upgrades the reassembly
    invariant from rows-only (synthetic in-process corpus) to
    value-hash-verified on the driver's shared parquet."""
    from hsip.reassemble import dedupe_turn_versions, reassemble

    deduped = dedupe_turn_versions(_docs_as_turns(spark, sf_dir))
    return reassemble(deduped).select(
        "conv_id", "n_turns", F.md5("doc_text").alias("doc_md5")
    )


def _docs_as_turns(spark, sf_dir):
    """Shared-parquet transcript corpus: 30-token chunks of normalized
    ``documents`` text as (conv_id, turn_idx, role, text, tool, ts)
    turns, plus a late-arriving STALE re-write of turn 0 with strictly
    older ts that C1 must drop (no ts ties, so the lexicographic-text
    tie-break never fires and a plain ts-DESC row_number oracle
    suffices)."""
    from hsip.chunking import chunk_docs
    from hsip.normalize import tokens_col

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_docs(
        docs, "doc_id", tokens_col(_norm(F.col("text"))), chunk_size=30, overlap=0
    )
    turns = chunks.select(
        F.col("id").alias("conv_id"),
        F.col("chunk_idx").alias("turn_idx"),
        F.when(F.pmod("chunk_idx", F.lit(2)) == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("chunk_text").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.col("chunk_idx")).alias("ts"),
    )
    stale = turns.filter(F.col("turn_idx") == 0).select(
        "conv_id",
        "turn_idx",
        "role",
        F.concat(F.lit("STALE::"), F.col("text")).alias("text"),
        "tool",
        F.timestamp_seconds(F.lit(-1000)).alias("ts"),
    )
    return turns.unionByName(stale)


def transcript_dedup_clusters(spark, sf_dir):
    """FULL transcript pipeline, oracle-verified end to end (VERDICT r4
    item 5): C1 turn-version dedupe -> C2 reassembly -> minhash channel
    -> exact-Jaccard verify -> connected components, over the shared
    documents parquet chunked into turns (_docs_as_turns, with planted
    stale re-writes). At the guaranteed-recall config (r=1 bands over 256
    coordinates, caps off) the output is exactly "CC of the Jaccard>=0.7
    graph over the reassembled conversations" — and because the 30-token
    chunk grid partitions the normalized token stream exactly, the
    DuckDB oracle shingles the original normalized text directly while
    staying sensitive to reassembly bugs: a wrong turn order or an
    undropped stale turn changes the 5-gram shingle stream and the
    cluster hash."""
    from hsip.config import DedupConfig
    from hsip.pipeline import run_transcripts

    cfg = DedupConfig(
        num_perm=256, lsh_bands=256, lsh_rows=1,
        jaccard_threshold=0.7, bucket_cap=1_000_000,
    )
    turns = _docs_as_turns(spark, sf_dir)
    res = run_transcripts(spark, turns, cfg, channels=("minhash_lsh",))
    return res.clusters


def dedup_tiered_clusters(spark, sf_dir):
    """Tiered dedup (hsip/cc.py tiered_clusters): candidate generation +
    exact-Jaccard verification run ONCE at the guaranteed-recall config
    (r=1 bands over 256 coordinates catch J>=0.5 with prob
    1-(1-0.5)^256 ~ 1; caps off), then cluster labels are derived at
    three aggressiveness tiers (J>=0.5 / 0.7 / 0.9) from the same cached
    scored-pair table. DuckDB reproduces each tier with brute-force
    Jaccard + a recursive-CTE closure — three independent closures, one
    per tier, joined on id."""
    from hsip.barrier import Regime
    from hsip.cc import tiered_clusters
    from hsip.config import DedupConfig
    from hsip.pipeline import run_documents

    cfg = DedupConfig(
        num_perm=256, lsh_bands=256, lsh_rows=1,
        jaccard_threshold=0.5, bucket_cap=1_000_000,
    )
    docs = _t(spark, sf_dir, "documents")
    res = run_documents(
        spark, docs, "doc_id", "text", cfg, channels=("minhash_lsh",)
    )
    scored = res.verified.filter("verdict")
    with Regime.for_run(cfg) as regime:
        out = regime.barrier(tiered_clusters(
            docs.select(F.col("doc_id").cast("string").alias("id")),
            scored, thresholds=(0.5, 0.7, 0.9), regime=regime,
        ))
    return out.select(
        F.col("id").alias("doc_id"), "cluster_t50", "cluster_t70", "cluster_t90"
    )


def tiered_dedup_impact(spark, sf_dir):
    """Per-tier dedup impact report over the tiered labels — the number
    the curation meeting actually asks for: at each aggressiveness tier,
    how many clusters exist, how many docs would be removed keeping one
    representative per cluster, and the largest cluster (hot-boilerplate
    sentinel). Plan: the tiered label table (one row per doc, k label
    columns) is unpivoted with stack() — narrow, no text — then two
    hash aggregations; at 100 TB the unpivot carries (doc_id, 3 labels)
    only and both aggs combine map-side."""
    from hsip.barrier import Regime
    from hsip.cc import tiered_clusters
    from hsip.config import DedupConfig
    from hsip.pipeline import run_documents

    cfg = DedupConfig(
        num_perm=256, lsh_bands=256, lsh_rows=1,
        jaccard_threshold=0.5, bucket_cap=1_000_000,
    )
    docs = _t(spark, sf_dir, "documents")
    res = run_documents(
        spark, docs, "doc_id", "text", cfg, channels=("minhash_lsh",)
    )
    scored = res.verified.filter("verdict")
    with Regime.for_run(cfg) as regime:
        tiers = regime.barrier(tiered_clusters(
            docs.select(F.col("doc_id").cast("string").alias("id")),
            scored, thresholds=(0.5, 0.7, 0.9), regime=regime,
        ))
    lab = tiers.select(
        F.expr(
            "stack(3, 't50', cluster_t50, 't70', cluster_t70,"
            " 't90', cluster_t90) AS (tier, cid)"
        )
    )
    per = lab.groupBy("tier", "cid").agg(F.count("*").alias("sz"))
    return per.groupBy("tier").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        (F.sum("sz") - F.count("*")).cast("long").alias("docs_removed"),
        F.max("sz").cast("long").alias("largest_cluster"),
    )


def approx_distinct_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts")
    )


def sampled_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.sample(fraction=0.1, seed=42).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _fresh(fn: Callable[[SparkSession, str], DataFrame]):
    """Per-query cache hygiene for long sessions (VERDICT.md r3 item 5):
    the driver runs the ~48 contract queries sequentially in ONE session
    and collects each result before calling the next, so clearing the
    SQL cache at query ENTRY releases the previous query's channel/
    pipeline caches (bucket tables, result frames) without touching
    anything in flight — storage memory stays bounded by one query
    instead of growing monotonically across the run."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational (Q1-Q17)
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "q5_region_order_volume": q5_region_order_volume,
        "outer_join_customer_orders": outer_join_customer_orders,
        "anti_join_customers_without_orders": anti_join_customers_without_orders,
        "semi_join_parts_ordered": semi_join_parts_ordered,
        "rollup_order_counts": rollup_order_counts,
        "cube_order_stats": cube_order_stats,
        "explode_token_frequencies": explode_token_frequencies,
        "pivot_returnflag_linestatus": pivot_returnflag_linestatus,
        "window_top2_per_order": window_top2_per_order,
        "window_running_quantity": window_running_quantity,
        "latest_order_per_customer": latest_order_per_customer,
        "setop_nation_overlap": setop_nation_overlap,
        "distinct_parts_per_supplier": distinct_parts_per_supplier,
        "crossjoin_region_priority": crossjoin_region_priority,
        "topk_expensive_lineitems": topk_expensive_lineitems,
        # events
        "events_daily_rollup": events_daily_rollup,
        "events_json_extract": events_json_extract,
        "events_user_gaps": events_user_gaps,
        "events_burst_pairs": events_burst_pairs,
        "events_zorder_keys": events_zorder_keys,
        "events_type_map_profile": events_type_map_profile,
        "events_sessionization": events_sessionization,
        # documents / text analysis / dedup oracles
        "dedup_exact_clusters": dedup_exact_clusters,
        "dedup_doc_weights": dedup_doc_weights,
        "dedup_quality_reps": dedup_quality_reps,
        "dedup_exact_pairs": dedup_exact_pairs,
        "fuzzy_part_name_pairs": fuzzy_part_name_pairs,
        "pii_redacted_docs": pii_redacted_docs,
        "doc_spans_removed": doc_spans_removed,
        "doc_tfidf_top_terms": doc_tfidf_top_terms,
        "doc_split_assignment": doc_split_assignment,
        "stratified_sample_docs": stratified_sample_docs,
        "doc_sequence_packing": doc_sequence_packing,
        "curation_verdict_docs": curation_verdict_docs,
        "token_jaccard_pairs": token_jaccard_pairs,
        "token_containment_pairs": token_containment_pairs,
        "token_weighted_jaccard_pairs": token_weighted_jaccard_pairs,
        "dataset_card": dataset_card,
        "doc_stats": doc_stats,
        "lang_profile": lang_profile,
        "doc_quality_scores": doc_quality_scores,
        "doc_char_entropy": doc_char_entropy,
        "cluster_bcubed_eval": cluster_bcubed_eval,
        "cluster_ari_eval": cluster_ari_eval,
        "doc_fingerprints": doc_fingerprints,
        "shingle_counts": shingle_counts,
        "doc_repetition_signals": doc_repetition_signals,
        "decontam_flagged_docs": decontam_flagged_docs,
        "minhash_e2e_clusters": minhash_e2e_clusters,
        "dedup_tiered_clusters": dedup_tiered_clusters,
        "tiered_dedup_impact": tiered_dedup_impact,
        "dedup_collapse_clusters": dedup_collapse_clusters,
        "substr_pairs": substr_pairs,
        "decontam_substr_pairs": decontam_substr_pairs,
        "decontam_fuzzy_pairs": decontam_fuzzy_pairs,
        "doc_chunks": doc_chunks,
        "video_frame_samples": video_frame_samples,
        # embeddings / similarity search
        "embedding_topk_neighbors": embedding_topk_neighbors,
        "ann_ivf_full_probe_topk": ann_ivf_full_probe_topk,
        "embedding_near_dup_pairs": embedding_near_dup_pairs,
        "semantic_dedup_clusters": semantic_dedup_clusters,
        "embedding_label_stats": embedding_label_stats,
        "token_counts": token_counts,
        "quality_signals": quality_signals,
        "lang_weighted_doclen": lang_weighted_doclen,
        "doc_length_percentiles": doc_length_percentiles,
        "paragraph_dup_stats": paragraph_dup_stats,
        "paragraph_dedup_docs": paragraph_dedup_docs,
        "boilerplate_ngrams": boilerplate_ngrams,
        "doc_lm_scores": doc_lm_scores,
        "orders_priority_quartiles": orders_priority_quartiles,
        "orders_grouping_sets": orders_grouping_sets,
        # rows-only
        "lang_id_heuristic": lang_id_heuristic,
        "ann_rhp_lsh_topk": ann_rhp_lsh_topk,
        "image_feature_extraction": image_feature_extraction,
        "audio_feature_extraction": audio_feature_extraction,
        "image_phash_near_dups": image_phash_near_dups,
        "doc_minhash_signatures": doc_minhash_signatures,
        "minhash_lsh_clusters": minhash_lsh_clusters,
        "simhash_hamming_pairs": simhash_hamming_pairs,
        "substr_duplicate_spans": substr_duplicate_spans,
        "transcript_dedup_clusters": transcript_dedup_clusters,
        "transcript_reassembly_roundtrip": transcript_reassembly_roundtrip,
        "transcript_turn_equality_audit": transcript_turn_equality_audit,
        "approx_distinct_parts": approx_distinct_parts,
        "sampled_orders": sampled_orders,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _fresh(fn) for name, fn in _raw_queries().items()}


def oracle_sql() -> dict[str, str]:
    from hsip.redact import redaction_oracle_sql
    from hsip.splits import split_oracle_sql

    norm_text = _NORM_SQL.format(c="text")
    redact_cols = redaction_oracle_sql("aug")
    split_bucket_sql, split_case_sql = split_oracle_sql("doc_id", salt="exp1")
    from hsip.packing import packing_oracle_sql
    from hsip.splits import stratified_oracle_predicate
    from hsip.textstats import curation_oracle_sql

    strat_pred = stratified_oracle_predicate(
        "doc_id", "lang", {"en": 0.5, "es": 0.25}, salt="exp1", default=0.1
    )
    packing_sql = packing_oracle_sql(
        "documents", "doc_id", "text", seq_len=1024, n_shards=4, salt="exp1"
    )
    curation_sql = curation_oracle_sql("documents", "doc_id", "text")
    # shared by dedup_tiered_clusters / tiered_dedup_impact: brute-force
    # Jaccard pairs + three reachability closures, one per tier
    tiered_cte = f"""
            WITH RECURSIVE t AS (
                SELECT CAST(doc_id AS VARCHAR) AS id,
                       {norm_text} AS nt
                FROM documents
            ),
            tok AS (
                SELECT id, nt,
                       list_filter(string_split(nt, ' '), x -> x <> '') AS toks
                FROM t
            ),
            sh AS (
                SELECT id,
                       CASE
                           WHEN nt = '' THEN []::VARCHAR[]
                           WHEN len(toks) >= 5 THEN list_distinct(
                               list_transform(
                                   range(1, len(toks) - 3),
                                   i -> array_to_string(toks[i:i+4], ' ')
                               ))
                           ELSE [nt]
                       END AS s
                FROM tok
            ),
            pairs AS (
                SELECT a.id AS ia, b.id AS ib,
                       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                           / len(list_distinct(list_concat(a.s, b.s))) AS j
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
            ),
            e50 AS (
                SELECT ia AS src, ib AS dst FROM pairs WHERE j >= 0.5
                UNION ALL
                SELECT ib AS src, ia AS dst FROM pairs WHERE j >= 0.5
            ),
            e70 AS (
                SELECT ia AS src, ib AS dst FROM pairs WHERE j >= 0.7
                UNION ALL
                SELECT ib AS src, ia AS dst FROM pairs WHERE j >= 0.7
            ),
            e90 AS (
                SELECT ia AS src, ib AS dst FROM pairs WHERE j >= 0.9
                UNION ALL
                SELECT ib AS src, ia AS dst FROM pairs WHERE j >= 0.9
            ),
            r50(id, r) AS (
                SELECT id, id FROM t
                UNION
                SELECT r50.id, e.dst FROM r50 JOIN e50 e ON e.src = r50.r
            ),
            r70(id, r) AS (
                SELECT id, id FROM t
                UNION
                SELECT r70.id, e.dst FROM r70 JOIN e70 e ON e.src = r70.r
            ),
            r90(id, r) AS (
                SELECT id, id FROM t
                UNION
                SELECT r90.id, e.dst FROM r90 JOIN e90 e ON e.src = r90.r
            ),
            c50 AS (SELECT id, min(r) AS cluster_t50 FROM r50 GROUP BY id),
            c70 AS (SELECT id, min(r) AS cluster_t70 FROM r70 GROUP BY id),
            c90 AS (SELECT id, min(r) AS cluster_t90 FROM r90 GROUP BY id)
    """
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue_orders": """
            WITH rev AS (
                SELECT l_orderkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY l_orderkey
            )
            SELECT l_orderkey, revenue, rk FROM (
                SELECT l_orderkey, revenue,
                       row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS rk
                FROM rev
            ) WHERE rk <= 10
        """,
        "q5_region_order_volume": """
            SELECT r_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "outer_join_customer_orders": """
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "anti_join_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "semi_join_parts_ordered": """
            SELECT p_partkey, p_brand FROM part
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_partkey = p_partkey AND l_quantity >= 45
            )
        """,
        "rollup_order_counts": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "cube_order_stats": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "orders_grouping_sets": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        # ntile is deterministic here because (price DESC, key ASC) is a
        # total order; both engines assign the +1-sized tiles first
        "orders_priority_quartiles": """
            WITH q AS (
                SELECT o_orderpriority, o_totalprice,
                       ntile(4) OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey
                       ) AS quartile
                FROM orders
            )
            SELECT o_orderpriority, quartile, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi
            FROM q GROUP BY o_orderpriority, quartile
        """,
        "explode_token_frequencies": f"""
            WITH toks AS (
                SELECT unnest(string_split({_NORM_SQL.format(c='text')}, ' '))
                       AS token
                FROM documents
            ),
            agg AS (SELECT token, count(*) AS freq FROM toks GROUP BY token)
            SELECT token, freq, rk FROM (
                SELECT token, freq,
                       row_number() OVER (ORDER BY freq DESC, token) AS rk
                FROM agg
            ) WHERE rk <= 20
        """,
        "pivot_returnflag_linestatus": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                   CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
            FROM lineitem GROUP BY l_returnflag
        """,
        "window_top2_per_order": """
            SELECT l_orderkey, l_linenumber, rn FROM (
                SELECT l_orderkey, l_linenumber,
                       row_number() OVER (
                           PARTITION BY l_orderkey
                           ORDER BY l_extendedprice DESC, l_linenumber
                       ) AS rn
                FROM lineitem
            ) WHERE rn <= 2
        """,
        "window_running_quantity": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   round(sum(l_quantity) OVER (
                       PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 2) AS running_qty
            FROM lineitem WHERE l_suppkey <= 3
        """,
        "latest_order_per_customer": """
            SELECT o_custkey, o_orderkey, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC
                       ) AS rn
                FROM orders
            ) WHERE rn = 1
        """,
        "setop_nation_overlap": """
            SELECT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT
                SELECT s_nationkey FROM supplier
            )
            UNION ALL
            SELECT nationkey + 1000 FROM (
                SELECT DISTINCT c_nationkey AS nationkey FROM customer
                EXCEPT
                SELECT DISTINCT s_nationkey FROM supplier
            )
        """,
        "distinct_parts_per_supplier": """
            SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_suppkey
        """,
        "crossjoin_region_priority": """
            SELECT r_name, o_orderpriority
            FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
        """,
        "topk_expensive_lineitems": """
            SELECT l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
            LIMIT 15
        """,
        "events_daily_rollup": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "events_json_extract": """
            SELECT event_type,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
                   max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "events_user_gaps": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   round(avg(gap_sec), 4) AS avg_gap_sec,
                   max(gap_sec) AS max_gap_sec
            FROM (
                SELECT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS gap_sec
                FROM events
            ) GROUP BY user_id
        """,
        "events_burst_pairs": """
            SELECT a.user_id AS user_id, count(*) AS n_burst_pairs
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.event_id > a.event_id
             AND b.ts >= a.ts
             AND CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) <= 60
            GROUP BY a.user_id
        """,
        "events_type_map_profile": """
            WITH per_ut AS (
                SELECT user_id, event_type, COUNT(*) AS cnt,
                       SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS ks
                FROM events GROUP BY user_id, event_type
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(COALESCE(SUM(cnt) FILTER (event_type = 'click'), 0)
                        AS BIGINT) AS clicks,
                   CAST(COALESCE(SUM(cnt) FILTER (event_type = 'error'), 0)
                        AS BIGINT) AS errors,
                   CAST(COUNT(*) FILTER (cnt >= 10) AS BIGINT) AS heavy_types,
                   CAST(SUM(ks) AS BIGINT) AS k_sum
            FROM per_ut GROUP BY user_id
        """,
        "events_sessionization": """
            WITH g AS (
                SELECT user_id, ts, event_id, value,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                       CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) IS NULL
                            OR CAST(floor(epoch(ts)) AS BIGINT)
                               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                                   PARTITION BY user_id ORDER BY ts, event_id
                               ) > 43200
                            THEN 1 ELSE 0 END AS is_new
                FROM events
            ), s AS (
                SELECT user_id, value, ep,
                       CAST(SUM(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS BIGINT) AS session_id
                FROM g
            )
            SELECT user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   max(ep) - min(ep) AS duration_sec,
                   round(sum(value), 2) AS session_value
            FROM s GROUP BY user_id, session_id
        """,
        "lang_weighted_doclen": r"""
            SELECT lang,
                   round(sum(CAST(n_chars * n_tokens AS DOUBLE))
                         / greatest(CAST(sum(n_tokens) AS DOUBLE), 1.0),
                         6) AS w_mean_len
            FROM (
                SELECT lang,
                       length(text) AS n_chars,
                       len(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS n_tokens
                FROM documents
            ) GROUP BY lang
        """,
        # quantile_cont == Spark's exact `percentile`: both linearly
        # interpolate at rank (n-1)*p over the sorted values
        "doc_length_percentiles": f"""
            WITH t AS (
                SELECT lang,
                       len(list_filter(
                           string_split({_NORM_SQL.format(c='text')}, ' '),
                           x -> x <> '')) AS n_tokens
                FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(n_tokens, 0.5), 4) AS p50,
                   round(quantile_cont(n_tokens, 0.9), 4) AS p90,
                   round(quantile_cont(n_tokens, 0.99), 4) AS p99
            FROM t GROUP BY lang
        """,
        # same 10-token chunk grid as chunk_docs(chunk_size=10, overlap=0)
        "paragraph_dup_stats": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split({_NORM_SQL.format(c='text')}, ' '),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            n AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) = 0 THEN 0
                            WHEN len(toks) <= 10 THEN 1
                            ELSE CAST(ceil(len(toks) / 10.0) AS INT)
                       END AS nc
                FROM t
            ),
            e AS (
                SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx
                FROM n
            ),
            paras AS (
                SELECT doc_id AS id,
                       md5(array_to_string(
                           toks[chunk_idx * 10 + 1 : chunk_idx * 10 + 10], ' '
                       )) AS para_md5
                FROM e
            )
            SELECT para_md5,
                   CAST(count(*) AS INT) AS n_occurrences,
                   CAST(count(DISTINCT id) AS INT) AS n_docs
            FROM paras GROUP BY para_md5
            HAVING count(*) >= 2
        """,
        # same 10-token grid; keeper = globally-first occurrence
        "paragraph_dedup_docs": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split({_NORM_SQL.format(c='text')}, ' '),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            n AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) = 0 THEN 0
                            WHEN len(toks) <= 10 THEN 1
                            ELSE CAST(ceil(len(toks) / 10.0) AS INT)
                       END AS nc
                FROM t
            ),
            e AS (
                SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx
                FROM n
            ),
            paras AS (
                SELECT doc_id AS id, chunk_idx AS para_idx,
                       array_to_string(
                           toks[chunk_idx * 10 + 1 : chunk_idx * 10 + 10], ' '
                       ) AS para
                FROM e
            ),
            k AS (
                SELECT id, para_idx, para,
                       row_number() OVER (
                           PARTITION BY para ORDER BY id, para_idx
                       ) AS rn,
                       count(*) OVER (PARTITION BY para) AS n_copies
                FROM paras
            )
            SELECT id AS doc_id,
                   string_agg(para, ' ' ORDER BY para_idx) AS clean_text,
                   CAST(count(*) AS INT) AS n_paras
            FROM k WHERE n_copies < 2 OR rn = 1
            GROUP BY id
        """,
        "boilerplate_ngrams": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split({_NORM_SQL.format(c='text')}, ' '),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            g0 AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(toks) - 1),
                           i -> array_to_string(toks[i : i + 2], ' ')
                       )) AS gram
                FROM t WHERE len(toks) >= 3
            ),
            g AS (SELECT DISTINCT doc_id, gram FROM g0)
            SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
            FROM g GROUP BY gram
            ORDER BY doc_freq DESC, gram ASC
            LIMIT 20
        """,
        "doc_lm_scores": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split({_NORM_SQL.format(c='text')}, ' '),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            u AS (SELECT unnest(toks) AS w1 FROM t),
            c1 AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1),
            v AS (SELECT count(*) AS v FROM c1),
            b AS (
                SELECT doc_id,
                       unnest(toks[1 : len(toks) - 1]) AS w1,
                       unnest(list_transform(
                           range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i + 1]
                       )) AS bg
                FROM t WHERE len(toks) >= 2
            ),
            c12 AS (SELECT bg, count(*) AS c12 FROM b GROUP BY bg),
            s AS (
                SELECT b.doc_id,
                       -ln((c12.c12 + 1) / CAST(c1.c1 + v.v AS DOUBLE)) AS nll
                FROM b JOIN c12 USING (bg) JOIN c1 USING (w1) CROSS JOIN v
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(nll), 6) AS mean_nll
            FROM s GROUP BY doc_id
        """,
        "dedup_exact_clusters": f"""
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY norm) AS cluster_id,
                   CAST(count(*) OVER (PARTITION BY norm) AS BIGINT) AS cluster_size
            FROM (SELECT doc_id, {norm_text} AS norm FROM documents)
        """,
        "dedup_doc_weights": f"""
            SELECT doc_id,
                   CAST(count(*) OVER (PARTITION BY norm) AS BIGINT) AS n_copies,
                   round(1.0 / count(*) OVER (PARTITION BY norm), 6) AS weight
            FROM (SELECT doc_id, {norm_text} AS norm FROM documents)
        """,
        "dedup_exact_pairs": f"""
            WITH h AS (SELECT doc_id, md5({norm_text}) AS hh FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM h a JOIN h b ON a.hh = b.hh AND a.doc_id < b.doc_id
        """,
        "dedup_quality_reps": f"""
            WITH c AS (
                SELECT doc_id, n_chars,
                       min(doc_id) OVER (PARTITION BY norm) AS cluster_id
                FROM (SELECT doc_id, n_chars, {norm_text} AS norm
                      FROM documents)
            ),
            r AS (
                SELECT cluster_id, doc_id, n_chars,
                       row_number() OVER (
                           PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id DESC
                       ) AS rn,
                       count(*) OVER (PARTITION BY cluster_id) AS csz
                FROM c
            )
            SELECT cluster_id, doc_id AS rep_id,
                   CAST(n_chars AS BIGINT) AS rep_n_chars,
                   CAST(csz AS BIGINT) AS cluster_size
            FROM r WHERE rn = 1
        """,
        "fuzzy_part_name_pairs": """
            WITH names AS (
                SELECT p_name AS name, count(*) AS n,
                       regexp_extract(lower(p_name),
                                      '([a-z0-9]+)[^a-z0-9]*$', 1) AS blk
                FROM part GROUP BY p_name
            )
            SELECT a.name AS name_a, b.name AS name_b,
                   a.n AS n_a, b.n AS n_b,
                   levenshtein(a.name, b.name) AS dist
            FROM names a JOIN names b
              ON a.blk = b.blk AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 3
        """,
        "pii_redacted_docs": f"""
            WITH aug AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 3 <> 0
                               THEN ' reach user' || CAST(doc_id AS VARCHAR)
                                    || '@example.org' ELSE '' END
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' call 555-867-'
                                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                                    || '.7' ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' id 123-45-6789' ELSE '' END AS aug
                FROM documents
            )
            SELECT doc_id, {{redact_cols}} FROM aug
        """.format(redact_cols=redact_cols),
        "doc_spans_removed": """
            WITH sp AS (
                SELECT doc_id, 5 AS s, 25 AS e FROM documents WHERE doc_id % 2 = 0
                UNION ALL
                SELECT doc_id, 20, 40 FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT doc_id, 30, 35 FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id, 0, 1000000 FROM documents WHERE doc_id % 7 = 0
            ),
            cl AS (
                SELECT sp.doc_id, greatest(s, 0) AS s, least(e, length(text)) AS e
                FROM sp JOIN documents d USING (doc_id)
                WHERE least(e, length(text)) > greatest(s, 0)
            ),
            isl AS (
                SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                              PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          ), -1) THEN 1 ELSE 0 END AS ni
                FROM cl
            ),
            g AS (
                SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
                FROM isl
            ),
            m AS (SELECT doc_id, min(s) AS s, max(e) AS e
                  FROM g GROUP BY doc_id, grp),
            nb AS (
                SELECT m.doc_id, s, e, length(d.text) AS len,
                       lag(e, 1, 0) OVER (PARTITION BY m.doc_id ORDER BY s)
                           AS prev_e,
                       lead(s, 1) OVER (PARTITION BY m.doc_id ORDER BY s)
                           AS next_s
                FROM m JOIN documents d USING (doc_id)
            ),
            seg AS (
                SELECT doc_id, prev_e AS ss, s AS se FROM nb WHERE s > prev_e
                UNION ALL
                SELECT doc_id, e, len FROM nb WHERE next_s IS NULL AND len > e
            ),
            rew AS (
                SELECT seg.doc_id,
                       string_agg(substr(text, ss + 1, se - ss), '' ORDER BY ss)
                           AS clean
                FROM seg JOIN documents d USING (doc_id)
                GROUP BY seg.doc_id
            ),
            cov AS (SELECT DISTINCT doc_id FROM m)
            SELECT d.doc_id,
                   CASE WHEN cov.doc_id IS NOT NULL
                        THEN coalesce(rew.clean, '') ELSE d.text END
                       AS text_clean,
                   CAST(length(d.text) - length(
                       CASE WHEN cov.doc_id IS NOT NULL
                            THEN coalesce(rew.clean, '') ELSE d.text END
                   ) AS BIGINT) AS n_removed
            FROM documents d
            LEFT JOIN cov USING (doc_id)
            LEFT JOIN rew USING (doc_id)
        """,
        "doc_tfidf_top_terms": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split({norm_text}, ' '),
                                          x -> x <> '')) AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
                SELECT doc_id, term, tf, df,
                       round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1), 6)
                           AS tfidf
                FROM tf JOIN dfq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, df, tfidf,
                   CAST(term_rank AS BIGINT) AS term_rank
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY tfidf DESC, term ASC) AS term_rank
                FROM scored
            ) WHERE term_rank <= 3
        """,
        "doc_split_assignment": f"""
            SELECT doc_id, {split_bucket_sql} AS bucket,
                   {split_case_sql} AS split
            FROM documents
        """,
        "stratified_sample_docs": f"""
            SELECT doc_id, lang FROM documents WHERE {strat_pred}
        """,
        "doc_sequence_packing": packing_sql,
        "curation_verdict_docs": curation_sql,
        "token_jaccard_pairs": f"""
            WITH d AS (
                SELECT doc_id, lang, source,
                       list_distinct(string_split({norm_text}, ' ')) AS toks
                FROM documents
            )
            SELECT * FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(
                           len(list_intersect(a.toks, b.toks)) * 1.0
                           / len(list_distinct(list_concat(a.toks, b.toks))), 6
                       ) AS jaccard
                FROM d a JOIN d b
                  ON a.lang = b.lang AND a.source = b.source
                 AND a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.5
        """,
        "token_weighted_jaccard_pairs": f"""
            WITH tok AS (
                SELECT doc_id, lang, source, tok, count(*)::BIGINT AS cnt
                FROM (
                    SELECT doc_id, lang, source,
                           unnest(string_split({norm_text}, ' ')) AS tok
                    FROM documents
                ) GROUP BY ALL
            ), tot AS (
                SELECT doc_id, sum(cnt)::BIGINT AS tot FROM tok GROUP BY doc_id
            ), j AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       sum(least(a.cnt, b.cnt))::BIGINT AS inter
                FROM tok a JOIN tok b
                  ON a.lang = b.lang AND a.source = b.source
                 AND a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT * FROM (
                SELECT id_a, id_b,
                       round(inter * 1.0 / (ta.tot + tb.tot - inter), 6)
                           AS wjaccard
                FROM j JOIN tot ta ON j.id_a = ta.doc_id
                       JOIN tot tb ON j.id_b = tb.doc_id
            ) WHERE wjaccard >= 0.4
        """,
        "token_containment_pairs": f"""
            WITH d AS (
                SELECT doc_id, lang, source,
                       list_distinct(string_split({norm_text}, ' ')) AS toks
                FROM documents
            )
            SELECT * FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(
                           len(list_intersect(a.toks, b.toks)) * 1.0
                           / least(len(a.toks), len(b.toks)), 6
                       ) AS containment
                FROM d a JOIN d b
                  ON a.lang = b.lang AND a.source = b.source
                 AND a.doc_id < b.doc_id
            ) WHERE containment >= 0.8
        """,
        "dataset_card": r"""
            WITH t AS (
                SELECT lang, source, n_chars, text,
                       len(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS nt
                FROM documents
            )
            SELECT count(*) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS total_tokens,
                   round(avg(nt), 4) AS mean_tokens,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
                       AS n_exact_dup_docs,
                   CAST(min(n_chars) AS BIGINT) AS min_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_chars
            FROM t
        """,
        "doc_stats": f"""
            SELECT doc_id,
                   CAST(len(string_split({norm_text}, ' ')) AS BIGINT) AS n_tokens,
                   CAST(length({norm_text}) AS BIGINT) AS n_chars_norm,
                   CAST(len(list_distinct(string_split({norm_text}, ' '))) AS BIGINT)
                       AS n_distinct_tokens
            FROM documents
        """,
        "lang_profile": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   count(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang
        """,
        "doc_quality_scores": f"""
            SELECT doc_id,
                   round(
                       len(list_distinct(string_split({norm_text}, ' '))) * 1.0
                       / len(string_split({norm_text}, ' ')), 6
                   ) AS diversity,
                   CASE WHEN n_chars >= 300 THEN 'long'
                        WHEN n_chars >= 150 THEN 'medium'
                        ELSE 'short' END AS length_class
            FROM documents
        """,
        "doc_char_entropy": f"""
            WITH ch AS (
                SELECT doc_id, unnest(string_split({norm_text}, '')) AS c
                FROM documents
            ), cnt AS (
                SELECT doc_id, c, count(*)::BIGINT AS n
                FROM ch WHERE c <> '' GROUP BY ALL
            ), ent AS (
                SELECT doc_id,
                       round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6)
                           AS char_entropy
                FROM cnt GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(e.char_entropy, 0.0) AS char_entropy
            FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
        """,
        "cluster_bcubed_eval": """
            WITH j AS (
                SELECT doc_id AS id, source AS pc, lang AS tc FROM documents
            ), cells AS (
                SELECT pc, tc, count(*)::BIGINT AS ov FROM j GROUP BY ALL
            ), ps AS (
                SELECT pc, sum(ov)::BIGINT AS psz FROM cells GROUP BY pc
            ), ts AS (
                SELECT tc, sum(ov)::BIGINT AS tsz FROM cells GROUP BY tc
            ), tot AS (
                SELECT sum(ov)::BIGINT AS n,
                       sum(ov * ov * 1.0 / psz) AS psum,
                       sum(ov * ov * 1.0 / tsz) AS rsum
                FROM cells JOIN ps USING (pc) JOIN ts USING (tc)
            )
            SELECT n AS n_items,
                   round(psum / n, 6) AS bcubed_precision,
                   round(rsum / n, 6) AS bcubed_recall,
                   round(2 * psum * rsum / (n * (psum + rsum)), 6) AS bcubed_f1
            FROM tot
        """,
        "events_zorder_keys": """
            WITH b AS (
                SELECT event_id,
                       greatest(0, least(255, (user_id * 256) // 1024))
                           AS ub,
                       greatest(0, least(255,
                           (((CAST(ts AS DATE) - DATE '1970-01-01')
                             - 19600) * 256) // 1024)) AS db
                FROM events
            )
            SELECT event_id,
                   ( (((ub >> 0) & 1) << 0)  | (((db >> 0) & 1) << 1)
                   | (((ub >> 1) & 1) << 2)  | (((db >> 1) & 1) << 3)
                   | (((ub >> 2) & 1) << 4)  | (((db >> 2) & 1) << 5)
                   | (((ub >> 3) & 1) << 6)  | (((db >> 3) & 1) << 7)
                   | (((ub >> 4) & 1) << 8)  | (((db >> 4) & 1) << 9)
                   | (((ub >> 5) & 1) << 10) | (((db >> 5) & 1) << 11)
                   | (((ub >> 6) & 1) << 12) | (((db >> 6) & 1) << 13)
                   | (((ub >> 7) & 1) << 14) | (((db >> 7) & 1) << 15)
                   )::BIGINT AS zkey
            FROM b
        """,
        "cluster_ari_eval": """
            WITH j AS (
                SELECT doc_id AS id, source AS pc, lang AS tc FROM documents
            ), cells AS (
                SELECT pc, tc, count(*)::BIGINT AS ov FROM j GROUP BY ALL
            ), idx AS (
                SELECT sum(ov)::BIGINT AS n,
                       coalesce(sum(ov * (ov - 1) / 2.0), 0.0) AS idx
                FROM cells
            ), pp AS (
                SELECT coalesce(sum(s * (s - 1) / 2.0), 0.0) AS pp
                FROM (SELECT sum(ov)::BIGINT AS s FROM cells GROUP BY pc)
            ), tt AS (
                SELECT coalesce(sum(s * (s - 1) / 2.0), 0.0) AS tt
                FROM (SELECT sum(ov)::BIGINT AS s FROM cells GROUP BY tc)
            )
            SELECT n AS n_items,
                   round(CASE
                       WHEN n < 2 THEN 1.0
                       WHEN (pp + tt) / 2.0
                            - pp * tt / (n * (n - 1.0) / 2.0) = 0 THEN 1.0
                       ELSE (idx - pp * tt / (n * (n - 1.0) / 2.0))
                            / ((pp + tt) / 2.0
                               - pp * tt / (n * (n - 1.0) / 2.0))
                   END, 6) AS ari
            FROM idx, pp, tt
        """,
        "doc_fingerprints": f"""
            SELECT doc_id, md5({norm_text}) AS fingerprint FROM documents
        """,
        "shingle_counts": f"""
            WITH t AS (SELECT doc_id, string_split({norm_text}, ' ') AS toks
                       FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(
                       list_transform(
                           range(1, len(toks) - 1),
                           i -> array_to_string(toks[i:i+2], ' ')
                       )
                   )) ELSE 0 END AS BIGINT) AS n_shingles
            FROM t
        """,
        "doc_repetition_signals": f"""
            WITH t AS (SELECT doc_id, string_split({norm_text}, ' ') AS toks
                       FROM documents),
            g2 AS (
                SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
                FROM t, UNNEST(range(1, len(toks))) AS u(i)
                WHERE len(toks) >= 2
            ),
            c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
            a2 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS f2
                   FROM c2 GROUP BY 1),
            r3 AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3 THEN
                           1.0 - CAST(len(list_distinct(list_transform(
                                 range(1, len(toks) - 1),
                                 i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE)
                               / (len(toks) - 2)
                       ELSE 0.0 END AS f3
                FROM t
            )
            SELECT t.doc_id,
                   round(coalesce(a2.f2, 0.0), 6) AS top_2gram_frac,
                   round(r3.f3, 6) AS dup_3gram_frac
            FROM t LEFT JOIN a2 USING (doc_id) JOIN r3 USING (doc_id)
        """,
        "decontam_flagged_docs": f"""
            WITH t AS (SELECT doc_id, string_split({norm_text}, ' ') AS toks
                       FROM documents),
            g AS (
                SELECT doc_id, u.g FROM t,
                UNNEST(list_distinct(list_transform(
                    range(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+3], ' ')))) AS u(g)
                WHERE len(toks) >= 4
            ),
            ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
            corp AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0)
            SELECT corp.doc_id, count(*) AS n_shared_4grams
            FROM corp JOIN ev USING (g)
            GROUP BY 1
        """,
        "doc_chunks": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split({norm_text}, ' '),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            n AS (
                SELECT doc_id, toks, len(toks) AS nt,
                       CASE WHEN len(toks) = 0 THEN 0
                            WHEN len(toks) <= 40 THEN 1
                            ELSE CAST(ceil((len(toks) - 10) / 30.0) AS INT)
                       END AS nc
                FROM t
            ),
            e AS (
                SELECT doc_id, toks,
                       unnest(range(0, nc)) AS chunk_idx
                FROM n
            )
            SELECT doc_id, chunk_idx,
                   array_to_string(
                       toks[chunk_idx * 30 + 1 : chunk_idx * 30 + 40], ' '
                   ) AS chunk_text,
                   CAST(len(toks[chunk_idx * 30 + 1 : chunk_idx * 30 + 40])
                        AS INT) AS n_chunk_tokens
            FROM e
        """,
        # FULL transcript pipeline oracle (VERDICT r4 item 5): the
        # 30-token chunk grid partitions the normalized token stream
        # exactly and C1 drops the planted stale turns, so the
        # reassembled conversations re-normalize to the original
        # normalized text — shingle it directly (any reassembly-order or
        # stale-drop bug would change the 5-gram stream and the hash).
        # Docs with zero tokens yield zero turns and are absent.
        "transcript_dedup_clusters": f"""
            WITH RECURSIVE t AS (
                SELECT CAST(doc_id AS VARCHAR) AS id,
                       {norm_text} AS nt
                FROM documents
            ),
            tok AS (
                SELECT id, nt,
                       list_filter(string_split(nt, ' '), x -> x <> '') AS toks
                FROM t
            ),
            live AS (SELECT * FROM tok WHERE len(toks) > 0),
            sh AS (
                SELECT id,
                       CASE
                           WHEN len(toks) >= 5 THEN list_distinct(
                               list_transform(
                                   range(1, len(toks) - 3),
                                   i -> array_to_string(toks[i:i+4], ' ')
                               ))
                           ELSE [nt]
                       END AS s
                FROM live
            ),
            pairs AS (
                SELECT a.id AS ia, b.id AS ib
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
            ),
            edges AS (
                SELECT ia AS src, ib AS dst FROM pairs
                UNION ALL
                SELECT ib AS src, ia AS dst FROM pairs
            ),
            reach(id, r) AS (
                SELECT id, id FROM live
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            )
            SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        """,
        # C1+C2 reassembly round-trip: same 30-token chunk grid as
        # doc_chunks (overlap 0), stale turn-0 re-writes dropped by
        # latest-ts row_number, conversations rebuilt with an ordered
        # string_agg — value-hash match pins the reassembly invariant
        "transcript_reassembly_roundtrip": _TURNS_DEDUP_CTE + """
            SELECT conv_id, CAST(count(*) AS INT) AS n_turns,
                   md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS doc_md5
            FROM dedup
            GROUP BY conv_id
        """,
        # C3 audit re-executed in SQL: reassemble with ordered string_agg,
        # recover turns by re-splitting on the separator (zipped unnests),
        # count per-conv anti-join violations in both directions — the
        # invariant demands 0 while n_turns varies, so the value-hash
        # compares real per-conversation structure, not a vacuous empty set
        "transcript_turn_equality_audit": _TURNS_DEDUP_CTE + """,
            reassembled AS (
                SELECT conv_id,
                       string_agg(text, chr(10) ORDER BY turn_idx) AS doc_text
                FROM dedup GROUP BY conv_id
            ),
            recovered AS (
                SELECT conv_id,
                       unnest(range(0, len(parts))) AS turn_idx,
                       unnest(parts) AS text
                FROM (
                    SELECT conv_id, string_split(doc_text, chr(10)) AS parts
                    FROM reassembled
                )
            ),
            viol AS (
                SELECT conv_id FROM (
                    (SELECT conv_id, turn_idx, text FROM dedup
                     EXCEPT ALL
                     SELECT conv_id, turn_idx, text FROM recovered)
                    UNION ALL
                    (SELECT conv_id, turn_idx, text FROM recovered
                     EXCEPT ALL
                     SELECT conv_id, turn_idx, text FROM dedup)
                )
            ),
            vc AS (
                SELECT conv_id, CAST(count(*) AS INT) AS n_violations
                FROM viol GROUP BY conv_id
            ),
            counts AS (
                SELECT conv_id, CAST(count(*) AS INT) AS n_turns
                FROM dedup GROUP BY conv_id
            )
            SELECT counts.conv_id, counts.n_turns,
                   CAST(coalesce(vc.n_violations, 0) AS INT) AS n_violations
            FROM counts LEFT JOIN vc ON counts.conv_id = vc.conv_id
        """,
        # metadata-driven frame-sampling plan: frame geometry derives
        # deterministically from documents so both engines replay the
        # same plan; sample_idx == frame_idx // step because the sampled
        # sequence starts at 0 with constant step
        "video_frame_samples": """
            WITH meta AS (
                SELECT doc_id AS media_id,
                       CAST(length(text) % 991 + 10 AS INT) AS n_frames
                FROM documents
            )
            SELECT media_id,
                   CAST(f.frame_idx // 25 AS INT) AS sample_idx,
                   CAST(f.frame_idx AS INT) AS frame_idx,
                   f.frame_idx / 24.0 AS ts_sec
            FROM meta, UNNEST(range(0, n_frames, 25)) AS f(frame_idx)
        """,
        # brute-force Jaccard>=0.7 pair graph + recursive-CTE reachability
        # closure == the pipeline's LSH(r=1,cap-free)+verify+CC output.
        # Shingle sets mirror textkernel._doc_features: distinct 5-token
        # grams of the normalized text; <5 tokens -> the whole text;
        # empty text -> empty set (Jaccard 0 by convention).
        "minhash_e2e_clusters": f"""
            WITH RECURSIVE t AS (
                SELECT CAST(doc_id AS VARCHAR) AS id,
                       {norm_text} AS nt
                FROM documents
            ),
            tok AS (
                SELECT id, nt,
                       list_filter(string_split(nt, ' '), x -> x <> '') AS toks
                FROM t
            ),
            sh AS (
                SELECT id,
                       CASE
                           WHEN nt = '' THEN []::VARCHAR[]
                           WHEN len(toks) >= 5 THEN list_distinct(
                               list_transform(
                                   range(1, len(toks) - 3),
                                   i -> array_to_string(toks[i:i+4], ' ')
                               ))
                           ELSE [nt]
                       END AS s
                FROM tok
            ),
            pairs AS (
                SELECT a.id AS ia, b.id AS ib
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
            ),
            edges AS (
                SELECT ia AS src, ib AS dst FROM pairs
                UNION ALL
                SELECT ib AS src, ia AS dst FROM pairs
            ),
            reach(id, r) AS (
                SELECT id, id FROM t
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            )
            SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        """,
        # three independent reachability closures, one per Jaccard tier
        "dedup_tiered_clusters": f"""{tiered_cte}
            SELECT c50.id AS doc_id, cluster_t50, cluster_t70, cluster_t90
            FROM c50 JOIN c70 ON c50.id = c70.id JOIN c90 ON c50.id = c90.id
        """,
        # same closures, aggregated: per-tier dedup impact
        "tiered_dedup_impact": f"""{tiered_cte},
            lab AS (
                SELECT 't50' AS tier, cluster_t50 AS cid FROM c50
                UNION ALL
                SELECT 't70' AS tier, cluster_t70 AS cid FROM c70
                UNION ALL
                SELECT 't90' AS tier, cluster_t90 AS cid FROM c90
            ),
            per AS (SELECT tier, cid, count(*) AS sz FROM lab GROUP BY tier, cid)
            SELECT tier,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(sz) AS BIGINT) AS n_docs,
                   CAST(sum(sz) - count(*) AS BIGINT) AS docs_removed,
                   CAST(max(sz) AS BIGINT) AS largest_cluster
            FROM per GROUP BY tier
        """,
        # collapse_exact mode over planted byte-identical copies: the SAME
        # Jaccard>=0.7 reachability closure as minhash_e2e_clusters — the
        # pre-pass must not change components, only candidate bookkeeping.
        "dedup_collapse_clusters": f"""
            WITH RECURSIVE aug AS (
                SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
                UNION ALL
                SELECT CAST(doc_id + 100000 AS VARCHAR) AS id, text
                FROM documents WHERE doc_id % 5 = 0
            ),
            t AS (
                SELECT id, {norm_text} AS nt FROM aug
            ),
            tok AS (
                SELECT id, nt,
                       list_filter(string_split(nt, ' '), x -> x <> '') AS toks
                FROM t
            ),
            sh AS (
                SELECT id,
                       CASE
                           WHEN nt = '' THEN []::VARCHAR[]
                           WHEN len(toks) >= 5 THEN list_distinct(
                               list_transform(
                                   range(1, len(toks) - 3),
                                   i -> array_to_string(toks[i:i+4], ' ')
                               ))
                           ELSE [nt]
                       END AS s
                FROM tok
            ),
            pairs AS (
                SELECT a.id AS ia, b.id AS ib
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
            ),
            edges AS (
                SELECT ia AS src, ib AS dst FROM pairs
                UNION ALL
                SELECT ib AS src, ia AS dst FROM pairs
            ),
            reach(id, r) AS (
                SELECT id, id FROM t
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            )
            SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        """,
        # shape invariant: one length-num_perm signature per doc (values
        # are engine-hash-specific; length is oracle-checkable)
        "doc_minhash_signatures": """
            SELECT CAST(doc_id AS VARCHAR) AS id, CAST(128 AS INT) AS sig_len
            FROM documents
        """,
        # hash-free substring-channel oracle: enumerate every L=120-char
        # window of normalized text; a pair exists iff some window is
        # shared. Matches the channel exactly because winnowing has no
        # false negatives at >= k+w-1 = L and verification is exact.
        "substr_pairs": f"""
            WITH n AS (
                SELECT CAST(doc_id AS VARCHAR) AS id, {norm_text} AS t
                FROM documents
            ),
            w AS (
                SELECT DISTINCT id, substr(t, i, 120) AS win
                FROM (
                    SELECT id, t,
                           unnest(range(1, greatest(length(t) - 119, 0) + 1)) AS i
                    FROM n
                )
            )
            SELECT DISTINCT x.id AS a, y.id AS b
            FROM w x JOIN w y ON x.win = y.win AND x.id < y.id
        """,
        "decontam_substr_pairs": f"""
            WITH n AS (
                SELECT doc_id, CAST(doc_id AS VARCHAR) AS id, {norm_text} AS t
                FROM documents
            ),
            w AS (
                SELECT DISTINCT doc_id, id, substr(t, i, 120) AS win
                FROM (
                    SELECT doc_id, id, t,
                           unnest(range(1, greatest(length(t) - 119, 0) + 1)) AS i
                    FROM n
                )
            )
            SELECT DISTINCT x.id AS train_id, y.id AS eval_id
            FROM w x JOIN w y ON x.win = y.win
            WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0
        """,
        "decontam_fuzzy_pairs": f"""
            WITH t AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
                       CASE WHEN len(toks) >= 5 THEN list_distinct(
                           list_transform(range(1, len(toks) - 3),
                                          i -> array_to_string(toks[i:i+4], ' ')))
                       ELSE [] END AS sh
                FROM t
            )
            SELECT train_id, eval_id, round(j, 6) AS jaccard FROM (
                SELECT a.id AS train_id, b.id AS eval_id,
                       len(list_intersect(a.sh, b.sh)) * 1.0
                           / len(list_distinct(list_concat(a.sh, b.sh))) AS j
                FROM s a JOIN s b
                  ON a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
                WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
            ) WHERE j >= 0.5
        """,
        # exact max-common-substring oracle (gaps-and-islands over shared
        # L=120-char windows per alignment diagonal; see the query
        # docstring for why this equals the channel's substr_len exactly)
        "substr_duplicate_spans": f"""
            WITH n AS (
                SELECT CAST(doc_id AS VARCHAR) AS id, {norm_text} AS t
                FROM documents
            ),
            w AS (
                SELECT id, i, substr(t, i, 120) AS win
                FROM (
                    SELECT id, t,
                           unnest(range(1, greatest(length(t) - 119, 0) + 1)) AS i
                    FROM n
                )
            ),
            m AS (
                SELECT x.id AS a, y.id AS b, x.i AS ia, y.i - x.i AS diag
                FROM w x JOIN w y ON x.win = y.win AND x.id < y.id
            ),
            isl AS (
                SELECT a, b, diag,
                       ia - row_number() OVER (
                           PARTITION BY a, b, diag ORDER BY ia
                       ) AS grp
                FROM m
            ),
            spans AS (
                SELECT a, b, count(*) + 119 AS span
                FROM isl GROUP BY a, b, diag, grp
            )
            SELECT a, b, CAST(max(span) AS INT) AS substr_len
            FROM spans GROUP BY a, b
        """,
        "embedding_topk_neighbors": """
            WITH probes AS (
                SELECT vec_id AS q_id, embedding AS q FROM embeddings
                WHERE vec_id < 20
            ),
            scored AS (
                SELECT p.q_id, e.vec_id,
                       list_dot_product(p.q, e.embedding)
                       / (sqrt(list_dot_product(p.q, p.q))
                          * sqrt(list_dot_product(e.embedding, e.embedding)))
                           AS cos
                FROM probes p CROSS JOIN embeddings e
                WHERE e.vec_id <> p.q_id
            )
            SELECT q_id, vec_id AS neighbor_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (
                           PARTITION BY q_id ORDER BY cos DESC, vec_id
                       ) AS rk
                FROM scored
            ) WHERE rk <= 3
        """,
        # full-probe IVF covers every cell -> identical to exact top-k
        "ann_ivf_full_probe_topk": """
            WITH probes AS (
                SELECT vec_id AS q_id, embedding AS q FROM embeddings
                WHERE vec_id < 20
            ),
            scored AS (
                SELECT p.q_id, e.vec_id,
                       list_dot_product(p.q, e.embedding)
                       / (sqrt(list_dot_product(p.q, p.q))
                          * sqrt(list_dot_product(e.embedding, e.embedding)))
                           AS cos
                FROM probes p CROSS JOIN embeddings e
                WHERE e.vec_id <> p.q_id
            )
            SELECT q_id, vec_id AS neighbor_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (
                           PARTITION BY q_id ORDER BY cos DESC, vec_id
                       ) AS rk
                FROM scored
            ) WHERE rk <= 3
        """,
        "semantic_dedup_clusters": """
            WITH RECURSIVE p AS (
                SELECT a.vec_id AS ia, b.vec_id AS ib
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                      >= 0.42
            ),
            edges AS (
                SELECT ia AS src, ib AS dst FROM p
                UNION ALL
                SELECT ib AS src, ia AS dst FROM p
            ),
            reach(id, r) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            )
            SELECT id AS vec_id, min(r) AS cluster_id, id = min(r) AS keep
            FROM reach GROUP BY id
        """,
        "embedding_near_dup_pairs": """
            SELECT id_a, id_b, round(cos, 6) AS cos FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                           AS cos
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            ) WHERE cos >= 0.42
        """,
        "embedding_label_stats": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_dot_product(embedding, embedding))), 4)
                       AS avg_norm
            FROM embeddings GROUP BY label
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\s+'),
                                        x -> x <> '')) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(
                       text, '[a-zA-Z0-9_]+|[^\sa-zA-Z0-9_]')) AS BIGINT)
                       AS bpe_tokens
            FROM documents
        """,
        "lang_id_heuristic": _lang_id_oracle_sql(),
        "quality_signals": r"""
            WITH t AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '') AS toks,
                       length(text) AS nc
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   round((nc - length(regexp_replace(text,
                             '[^\p{L}\p{N}_\s]', '', 'g')))
                         / greatest(nc, 1), 6) AS punct_ratio,
                   round((nc - length(regexp_replace(text, '[0-9]', '', 'g')))
                         / greatest(nc, 1), 6) AS digit_ratio,
                   round(len(list_distinct(toks)) / greatest(len(toks), 1), 6)
                       AS diversity
            FROM t
        """,
    }
