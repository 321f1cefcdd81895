"""G3/G4: band arithmetic, bucket pairing, hot-bucket star mode, S-curve."""

import numpy as np
from pyspark.sql import Observation

from hsip import schemas
from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.lsh import band_table, mh_sh_candidates, pairs_from_buckets
from hsip.metrics import observed
from hsip.minhash import minhash_signatures_local


def test_band_count(spark):
    cfg = DedupConfig(num_perm=8, lsh_bands=4, lsh_rows=2)
    df = spark.createDataFrame([("x", list(range(8)))], schema=schemas.MINHASH_SIGS)
    bands = band_table(df, cfg).collect()
    assert len(bands) == 4
    assert sorted(r.band_id for r in bands) == [0, 1, 2, 3]


def test_identical_sigs_all_bands_collide(spark):
    cfg = DedupConfig(num_perm=8, lsh_bands=4, lsh_rows=2)
    sig = [5, 6, 7, 8, 9, 10, 11, 12]
    df = spark.createDataFrame(
        [("a", sig), ("b", list(sig))], schema=schemas.MINHASH_SIGS
    )
    hot = Observation()
    with Regime() as regime:
        pairs = mh_sh_candidates(df, cfg, ("minhash_lsh",), regime,
                                 {"minhash_lsh": hot})
        assert [(r.a, r.b) for r in pairs.collect()] == [("a", "b")]
    assert observed(hot, "hot buckets").get("hot_buckets", 0) == 0


def test_bucket_pairing_small(spark):
    rows = [("a", 0, 1), ("b", 0, 1), ("c", 0, 1), ("d", 0, 2)]
    df = spark.createDataFrame(rows, "id string, band_id int, band_hash long")
    pairs, hot = pairs_from_buckets(df, cap=10)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}
    assert hot.count() == 0


def test_hot_bucket_star_pairing(spark):
    rows = [(f"id{i:02d}", 0, 7) for i in range(10)]
    df = spark.createDataFrame(rows, "id string, band_id int, band_hash long")
    pairs, hot = pairs_from_buckets(df, cap=5)
    got = {(r.a, r.b) for r in pairs.collect()}
    # star: everyone connects to min id — O(m) edges, one component
    assert got == {("id00", f"id{i:02d}") for i in range(1, 10)}
    assert hot.count() == 1


def test_hot_bucket_salt_policy(spark):
    """Salt mode: bounded sub-bucket all-pairs, cross-salt pairs dropped,
    hot bucket still reported in stats (no silent truncation)."""
    rows = [(f"id{i:02d}", 0, 7) for i in range(20)]
    df = spark.createDataFrame(rows, "id string, band_id int, band_hash long")
    pairs, hot = pairs_from_buckets(df, cap=5, hot_policy="salt")
    got = {(r.a, r.b) for r in pairs.collect()}
    assert hot.count() == 1
    # ceil(20/5)=4 salts -> ~5 members each -> ~4*C(5,2)=40 pairs max,
    # strictly less than all-pairs C(20,2)=190
    assert 0 < len(got) < 190
    # every emitted pair shares a salt bucket
    from pyspark.sql import functions as F
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("id", F.lit(42)), F.lit(4))
    )
    salt_of = {r.id: r._salt for r in salted.collect()}
    assert all(salt_of[a] == salt_of[b] for a, b in got)


def test_s_curve_candidate_probability(spark):
    """P(candidate) ~ 1-(1-s^r)^b on seeded pairs (SURVEY.md §5.4)."""
    cfg = DedupConfig(num_perm=64, lsh_bands=16, lsh_rows=4, bucket_cap=10_000)
    rng = np.random.default_rng(11)
    s = 0.7
    n_pairs = 60
    sets, ids = [], []
    for i in range(n_pairs):
        size = 300
        n_shared = int(size * 2 * s / (1 + s))
        shared = rng.integers(-(2**62), 2**62, size=n_shared).tolist()
        sets.append(shared + rng.integers(-(2**62), 2**62, size=size - n_shared).tolist())
        sets.append(shared + rng.integers(-(2**62), 2**62, size=size - n_shared).tolist())
        ids.extend([f"p{i:03d}_a", f"p{i:03d}_b"])
    sigs = minhash_signatures_local(sets, cfg)
    df = spark.createDataFrame(
        [(ids[i], [int(x) for x in sigs[i]]) for i in range(len(ids))],
        schema=schemas.MINHASH_SIGS,
    )
    with Regime() as regime:
        pairs = mh_sh_candidates(df, cfg, ("minhash_lsh",), regime)
        got = {(r.a, r.b) for r in pairs.collect()}
    hits = sum(
        1 for i in range(n_pairs) if (f"p{i:03d}_a", f"p{i:03d}_b") in got
    )
    expect = 1 - (1 - s**cfg.lsh_rows) ** cfg.lsh_bands  # ~0.993 at s=0.7
    # binomial 3-sigma band
    sigma = np.sqrt(n_pairs * expect * (1 - expect))
    assert abs(hits - n_pairs * expect) < 3 * sigma + 2


def test_unified_channel_pairs_equal_separate(spark):
    """The fused mh+sh bucket expansion (one union table, dynamic channel
    column) must produce exactly the per-channel union of separate
    expansions of the LSH band table and the Hamming probe-key table;
    each one-channel request produces exactly its own channel's pairs."""
    from hsip.simhash import hamming_block_table
    from hsip.textkernel import featurize

    cfg = DedupConfig(bucket_cap=64)
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        ("d1", base),
        ("d2", base + " extra"),                       # near-dup of d1
        ("d3", " ".join(f"zz{i}" for i in range(60))),  # unrelated
        ("d4", base),                                   # exact dup of d1
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    feats = featurize(docs, "doc_id", "text", cfg).cache()
    feats.count()

    def triples(df):
        return {(r.a, r.b, r.channel) for r in df.collect()}

    sep_mh, _ = pairs_from_buckets(band_table(feats, cfg), cfg.bucket_cap)
    sep_sh, _ = pairs_from_buckets(
        hamming_block_table(feats.select("id", "simhash"), cfg), cfg.bucket_cap,
        bucket_cols=("table_id", "key_hash"), channel="simhash")
    sep = {"minhash_lsh": triples(sep_mh), "simhash": triples(sep_sh)}

    with Regime() as regime:
        uni = triples(mh_sh_candidates(feats, cfg, ("minhash_lsh", "simhash"), regime))
        one = {ch: triples(mh_sh_candidates(feats, cfg, (ch,), regime)) for ch in sep}
    feats.unpersist()
    want = sep["minhash_lsh"] | sep["simhash"]
    assert uni == want and uni, uni ^ want
    assert one == sep and all(one.values())


def test_payload_passthrough_small_star_salt(spark):
    """payload_cols carries per-doc values into <col>_a/<col>_b on every
    expansion path, with the star hub's payload on the _a side and no
    suffix swap anywhere (all paths emit a < b)."""
    # small bucket (size 3 <= cap) + hot bucket (size 8 > cap)
    rows = [(f"s{i}", 0, 1, 100 + i) for i in range(3)]
    rows += [(f"h{i}", 0, 7, 200 + i) for i in range(8)]
    df = spark.createDataFrame(rows, "id string, band_id int, band_hash long, pv long")
    pairs, hot = pairs_from_buckets(df, cap=5, payload_cols=("pv",))
    got = {(r.a, r.b): (r.pv_a, r.pv_b) for r in pairs.collect()}
    pv = {r[0]: r[3] for r in rows}
    assert hot.count() == 1
    # small: all-pairs; star: hub = min id "h0" with its own payload
    assert set(got) == (
        {("s0", "s1"), ("s0", "s2"), ("s1", "s2")}
        | {("h0", f"h{i}") for i in range(1, 8)}
    )
    for (a, b), (pa, pb) in got.items():
        assert (pa, pb) == (pv[a], pv[b]), (a, b, pa, pb)

    # salt policy: payloads still aligned within sub-buckets
    pairs_s, _ = pairs_from_buckets(
        df, cap=5, hot_policy="salt", payload_cols=("pv",)
    )
    for r in pairs_s.collect():
        assert (r.pv_a, r.pv_b) == (pv[r.a], pv[r.b]), r


def test_verify_jaccard_hamming_payload_and_fallback(spark):
    """Channel-aware verify: simhash pairs read their (simhash_a,
    simhash_b) payload as a projection, minhash pairs hydrate shingles."""
    from hsip.barrier import Regime
    from hsip.config import DedupConfig
    from hsip.verify import verify_jaccard_hamming

    cfg = DedupConfig(jaccard_threshold=0.5, hamming_d=3)
    feats = spark.createDataFrame(
        [("a", [1, 2, 3, 4], 0b0000), ("b", [1, 2, 3, 9], 0b0001),
         ("c", [7, 8], 0b111111)],
        "id string, shingles array<long>, simhash long",
    )
    sims = {"a": 0b0000, "b": 0b0001, "c": 0b111111}
    base = [("a", "b", "minhash_lsh"), ("a", "b", "simhash"),
            ("a", "c", "simhash")]
    payload = spark.createDataFrame(
        [(a, b, ch,
          sims[a] if ch == "simhash" else None,
          sims[b] if ch == "simhash" else None) for a, b, ch in base],
        "a string, b string, channel string, simhash_a long, simhash_b long",
    )
    cols = ["a", "b", "channel", "jaccard", "hamming", "verdict"]
    regime = Regime()
    got_p = {tuple(r) for r in
             verify_jaccard_hamming(payload, feats, cfg, regime).select(*cols).collect()}
    regime.release()
    by_key = {(a, b, ch): (j, h, v) for a, b, ch, j, h, v in got_p}
    assert by_key[("a", "b", "minhash_lsh")] == (0.6, None, True)
    assert by_key[("a", "b", "simhash")] == (None, 1, True)
    assert by_key[("a", "c", "simhash")] == (None, 6, False)
