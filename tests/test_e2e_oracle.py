"""End-to-end transcript clustering vs an independent DuckDB oracle.

The pipeline (reassembly -> fused featurization -> MinHash/LSH ->
exact-Jaccard verify -> large/small-star CC) is configured for
guaranteed candidate recall (r=1 bands over 256 coordinates, caps off),
which makes its output exactly "connected components of the
Jaccard>=0.7 graph" — reproducible in DuckDB with exact pair
enumeration (a shingle-row self-join) and a recursive-CTE reachability
closure. This is the
oracle-grade upgrade of the transcript flagship (VERDICT.md r1 item 1);
the documents-table twin runs in the driver contract
(minhash_e2e_clusters)."""

import duckdb

from hsip.config import DedupConfig
from hsip.fixtures.gen import gen_transcripts, to_spark
from hsip.pipeline import run_documents
from hsip.reassemble import dedupe_turn_versions, reassemble

_ORACLE = r"""
WITH RECURSIVE t AS (
    SELECT id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
    FROM docs
),
tok AS (
    SELECT id, nt, list_filter(string_split(nt, ' '), x -> x <> '') AS toks
    FROM t
),
-- shingles as rows: one (doc, distinct shingle) row each. A doc of
-- >= 5 tokens contributes its word 5-grams (a 5-row window over its
-- token rows), a shorter nonempty doc its whole normalized text.
tokr AS (
    SELECT id, unnest(toks) AS w, unnest(range(1, len(toks) + 1)) AS pos,
           len(toks) AS n_tok
    FROM tok
),
grams AS (
    SELECT id, pos, n_tok,
           array_to_string(list(w) OVER (
               PARTITION BY id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING), ' ') AS g
    FROM tokr
),
shr AS (
    SELECT DISTINCT id, g FROM grams WHERE n_tok >= 5 AND pos <= n_tok - 4
    UNION
    SELECT id, nt AS g FROM tok WHERE nt <> '' AND len(toks) < 5
),
sz AS (
    SELECT id, count(*) AS n FROM shr GROUP BY id
),
-- Jaccard from a shingle-row self-join: |A n B| = matching rows,
-- |A u B| = |A| + |B| - |A n B|. Pairs sharing no shingle have Jaccard 0
-- and never reach the threshold.
inter AS (
    SELECT a.id AS ia, b.id AS ib, count(*) AS k
    FROM shr a JOIN shr b ON a.g = b.g AND a.id < b.id
    GROUP BY a.id, b.id
),
pairs AS (
    SELECT ia, ib
    FROM inter
    JOIN sz za ON za.id = ia
    JOIN sz zb ON zb.id = ib
    WHERE za.n + zb.n - k > 0
      AND CAST(k AS DOUBLE) / (za.n + zb.n - k) >= 0.7
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
"""


def test_transcript_clusters_match_duckdb_cc(spark):
    turns, _truth = to_spark(spark, gen_transcripts(seed=77, n_base=40))
    convs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")

    # r=1 over 128 coordinates: P[miss a J>=0.7 pair] <= (1-0.7)^128 ~ 1e-67
    cfg = DedupConfig(
        num_perm=128, lsh_bands=128, lsh_rows=1,
        jaccard_threshold=0.7, bucket_cap=1_000_000,
    )
    res = run_documents(
        spark, convs, "conv_id", "doc_text", cfg, channels=("minhash_lsh",)
    )
    ours = {(r.id, r.cluster_id) for r in res.clusters.collect()}

    pdf = convs.toPandas().rename(
        columns={"conv_id": "id", "doc_text": "text"}
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    theirs = set(map(tuple, con.execute(_ORACLE).fetchall()))

    assert ours == theirs
    # sanity: the corpus actually contains non-singleton clusters
    assert len({c for _, c in ours}) < len(ours)


def _norm_py(s: str) -> str:
    import re

    return re.sub(r"\s+", " ", s).strip().lower()


def _union_find_labels(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_three_channel_transcript_clusters_match_bruteforce(spark):
    """Full combine_verified union semantics, oracle-pinned (VERDICT.md r2
    item 7): a transcript corpus seeded with SIMHASH-ONLY duplicates
    (token-reversed doc — identical bag of words so Hamming distance is
    0, but every 5-gram shingle differs so Jaccard ~ 0) and SUBSTR-ONLY
    duplicates (shared >= 120-char span inside otherwise-disjoint text).
    Ground truth: brute-force all-pairs per channel over the pipeline's
    own feature table (exact Jaccard on shingle sets, exact Hamming on
    signatures, window-set intersection on normalized text), union,
    union-find closure. With guaranteed-recall configs (r=1 bands, caps
    off, Hamming-ball pigeonhole, winnowing theorem) the pipeline must
    reproduce these clusters exactly."""
    from hsip.textkernel import featurize

    turns, _ = to_spark(spark, gen_transcripts(seed=99, n_base=30))
    convs = reassemble(dedupe_turn_versions(turns)).select("conv_id", "doc_text")

    words = [f"w{i:03d}" for i in range(150)]
    span = " ".join(f"span{i:02d}" for i in range(24))  # 167 chars > 120
    extra = spark.createDataFrame(
        [
            ("zz-sim-a", " ".join(words)),
            ("zz-sim-b", " ".join(reversed(words))),
            ("zz-sub-a", " ".join(f"aa{i}" for i in range(40)) + " " + span
             + " " + " ".join(f"qq{i}" for i in range(40))),
            ("zz-sub-b", " ".join(f"bb{i}" for i in range(40)) + " " + span
             + " " + " ".join(f"rr{i}" for i in range(40))),
        ],
        "conv_id string, doc_text string",
    )
    docs = convs.unionByName(extra).cache()

    cfg = DedupConfig(
        num_perm=128, lsh_bands=128, lsh_rows=1, jaccard_threshold=0.7,
        bucket_cap=1_000_000, min_substr_len=120, winnow_window=30,
        substr_bucket_cap=1_000_000, max_anchors_per_pair=1_000_000,
    )
    res = run_documents(spark, docs, "conv_id", "doc_text", cfg)
    ours = {(r.id, r.cluster_id) for r in res.clusters.collect()}

    # ---- brute-force channel truths over the pipeline's own features ----
    feats = {
        r.id: (set(r.shingles), r.simhash)
        for r in featurize(docs, "conv_id", "doc_text", cfg).collect()
    }
    texts = {r.conv_id: _norm_py(r.doc_text) for r in docs.collect()}
    ids = sorted(feats)
    L = cfg.min_substr_len
    wins = {
        i: {texts[i][p : p + L] for p in range(len(texts[i]) - L + 1)}
        for i in ids
    }
    jac_pairs, ham_pairs, sub_pairs = set(), set(), set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            sa, ha = feats[a]
            sb, hb = feats[b]
            u = len(sa | sb)
            if u and len(sa & sb) / u >= cfg.jaccard_threshold:
                jac_pairs.add((a, b))
            if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= cfg.hamming_d:
                ham_pairs.add((a, b))
            if wins[a] & wins[b]:
                sub_pairs.add((a, b))

    # the seeded channel-only duplicates really are channel-only
    assert ("zz-sim-a", "zz-sim-b") in ham_pairs - jac_pairs - sub_pairs
    assert ("zz-sub-a", "zz-sub-b") in sub_pairs - jac_pairs - ham_pairs

    labels = _union_find_labels(ids, jac_pairs | ham_pairs | sub_pairs)
    expected = set(labels.items())
    assert ours == expected
