"""128-bit simhash path (config.py simhash_bits=128 — the documented
10^9+-distinct-docs key-entropy remedy: 80-bit probe keys at B=8,d=3).

Pins: lane-0 compatibility with the 64-bit fingerprint, the probing
guarantee over lane-local blocks, the array-lane Hamming verify
expression, end-to-end pipeline equality on planted near-dups with the
SimHash channel alone and with all three, and the entropy advisory
reading 80-bit keys.
"""

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.lsh import mh_sh_candidates
from hsip.simhash import hamming_block_table, probe_key_entropy
from hsip.textkernel import featurize

CFG64 = DedupConfig()
CFG128 = DedupConfig(simhash_bits=128)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def _simhash(df, cfg):
    """featurize's (id, simhash) columns."""
    return featurize(df, "doc_id", "text", cfg).select("id", "simhash")


def test_lane0_matches_64bit_fingerprint(spark):
    """Widening to 128 bits must not move the low lane: lane 0 votes over
    the same token hashes as the 64-bit kernel."""
    text = " ".join(f"tok{i}" for i in range(150))
    df = _docs(spark, [(1, text), (2, text + " extra tail")])
    r64 = {r.id: r.simhash for r in _simhash(df, CFG64).collect()}
    r128 = {r.id: r.simhash for r in _simhash(df, CFG128).collect()}
    for i in ("1", "2"):
        assert len(r128[i]) == 2
        assert r128[i][0] == r64[i]
    # lane 1 is independently seeded — must not mirror lane 0
    assert r128["1"][1] != r128["1"][0]


def test_block_table_geometry_128(spark):
    """B=8 blocks over 128 bits -> 16-bit lane-local slices; the probing
    keys must cover C(8,5)=56 tables, and reconstructing the fingerprint
    from the block slices must round-trip both lanes."""
    df = _docs(spark, [(1, " ".join(f"w{i}" for i in range(120)))])
    blocks = hamming_block_table(_simhash(df, CFG128), CFG128)
    rows = blocks.collect()
    assert {r.table_id for r in rows} == set(range(56))
    # every row keeps the full lane array as payload
    assert all(len(r.simhash) == 2 for r in rows)


def test_probing_guarantee_within_d_128(spark):
    """Two 128-bit fingerprints within Hamming distance d must share a
    probe key (pigeonhole over lane-local blocks) and verify as a pair:
    featurize's fingerprint of a doc, and a copy with d bits flipped
    across both lanes."""
    from hsip.verify import verify_hamming

    text = " ".join(f"tok{i}" for i in range(200))
    (fp,) = [r.simhash for r in _simhash(_docs(spark, [(1, text)]), CFG128).collect()]
    near = [fp[0] ^ (1 << 5), fp[1] ^ (1 << 17) ^ (1 << 40)]
    assert CFG128.hamming_d == 3
    sims = spark.createDataFrame(
        [("1", fp), ("2", near)], "id string, simhash array<bigint>")
    with Regime() as regime:
        pairs = mh_sh_candidates(sims, CFG128, ("simhash",), regime)
        got = verify_hamming(pairs, CFG128).collect()
    assert [(r.a, r.b, r.hamming, r.verdict) for r in got] == [("1", "2", 3, True)]


def test_hamming_verify_array_lanes(spark):
    """verify.hamming_col on array<bigint> fingerprints = summed per-lane
    popcounts, checked against a numpy reference on planted lanes."""
    from hsip import verify as V

    rows = [
        ("1", "2", "simhash", [0b1011, 0], [0b0011, -(1 << 63)]),
        ("3", "4", "simhash", [-1, -1], [-1, -1]),
    ]
    df = spark.createDataFrame(
        rows, "a string, b string, channel string, simhash_a array<bigint>, simhash_b array<bigint>"
    )
    got = {(r.a, r.b): r.hamming for r in df.withColumn("hamming", V.hamming_col(df)).collect()}
    assert got[("1", "2")] == 2  # one flipped low bit + the sign bit
    assert got[("3", "4")] == 0


def test_pipeline_e2e_128_both_featurize_paths(spark):
    """run_documents at simhash_bits=128 clusters planted near-identical
    docs with the SimHash channel alone and with all three channels, both
    through featurize -> mh_sh_candidates (the name predates the retired
    SQL featurizer). The planted pair differs only by case + whitespace
    (normalizer-invariant -> Hamming 0 on every lane in both runs — a
    one-token edit flips ~7 of 128 bits
    in expectation, past d=3, so nonzero-distance recall is pinned by the
    skip-guarded probing test above, not here). This test pins the
    wiring: array fingerprints through blocks -> union -> lane-aware
    verify -> CC, at the default collapse_exact=False (no exact pre-pass
    shortcuts the simhash channel)."""
    from hsip.pipeline import run_documents

    base = " ".join(f"token{i}" for i in range(200))
    near = "  " + base.replace("token7", "TOKEN7").replace(" ", "   ", 5)
    far = " ".join(f"zz{i}" for i in range(200))
    rows = [(1, base), (2, near), (3, far)]

    for channels in (("simhash",), ("minhash_lsh", "simhash", "substr")):
        res = run_documents(
            spark, _docs(spark, rows), "doc_id", "text", CFG128,
            channels=channels,
        )
        clusters = {r.id: r.cluster_id for r in res.clusters.collect()}
        assert clusters["1"] == clusters["2"], channels
        assert clusters["3"] != clusters["1"], channels
        ent = res.stats["probe_key_entropy"]
        assert ent["key_bits"] == 80.0


def test_entropy_advisory_80bit_keys():
    """128-bit config clears the sizing rule at 10^12 docs (the corpus
    the 64-bit config fails at — test_probe_key_entropy_rule)."""
    at_1e12 = probe_key_entropy(CFG128, 10**12)
    assert at_1e12["key_bits"] == 80.0
    assert at_1e12["ok"]  # log2(1e12)+8 ~ 47.9 <= 80
    # 56 tables * C(1e12,2) / 2^80 ~ 23 junk pairs TOTAL across a
    # 10^12-doc corpus — noise for the verify stage. The 64-bit config's
    # 40-bit keys at the same corpus expect ~2.5e13 junk pairs (more
    # candidates than docs): the advisory must separate the two regimes.
    assert at_1e12["expected_random_collisions"] < 100
    at_64 = probe_key_entropy(CFG64, 10**12)
    assert not at_64["ok"]
    assert at_64["expected_random_collisions"] > 10**12
