"""G5/G6: SimHash golden + monotonicity, Hamming block probing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.lsh import mh_sh_candidates
from hsip.simhash import hamming_block_table
from hsip.textkernel import featurize


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _simhash(df, cfg):
    """featurize's (id, simhash) columns."""
    return featurize(df, "doc_id", "text", cfg).select("id", "simhash")


def _candidates(df, cfg, regime):
    return mh_sh_candidates(df, cfg, ("simhash",), regime)


def test_identical_text_identical_simhash(spark):
    cfg = DedupConfig()
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        "doc_id int, text string",
    )
    rows = _simhash(df, cfg).collect()
    assert rows[0].simhash == rows[1].simhash


def test_hamming_monotone_in_overlap(spark):
    """More token overlap -> smaller Hamming distance (statistical)."""
    cfg = DedupConfig()
    rng = np.random.default_rng(2)
    vocab = [f"w{i}" for i in range(2000)]
    base = [vocab[i] for i in rng.integers(0, 2000, size=300)]

    def variant(frac):
        out = list(base)
        idx = rng.choice(300, size=int(300 * frac), replace=False)
        for i in idx:
            out[i] = vocab[int(rng.integers(0, 2000))]
        return " ".join(out)

    df = spark.createDataFrame(
        [(0, " ".join(base)), (1, variant(0.05)), (2, variant(0.3)), (3, variant(0.9))],
        "doc_id int, text string",
    )
    sh = {r.id: r.simhash for r in _simhash(df, cfg).collect()}
    d = [_hamming(sh["0"], sh[str(i)]) for i in (1, 2, 3)]
    assert d[0] < d[1] < d[2]


def test_block_table_shape(spark):
    """B=8, d=3 -> C(8,5) = 56 probe tables per fingerprint."""
    cfg = DedupConfig(hamming_blocks=8, hamming_d=3)
    df = spark.createDataFrame([("a", 0x1234_5678_9ABC_DEF0)], "id string, simhash long")
    rows = hamming_block_table(df, cfg).collect()
    assert len(rows) == 56
    assert len({r.table_id for r in rows}) == 56


def test_probing_guarantee_within_d(spark):
    """Pigeonhole: any pair within Hamming distance d shares a table key."""
    rng = np.random.default_rng(17)
    cfg = DedupConfig(hamming_blocks=8, hamming_d=3)
    rows = []
    for i in range(30):
        base = int(rng.integers(-(2**63), 2**63 - 1))
        flipped = base
        for bit in rng.choice(64, size=int(rng.integers(1, 4)), replace=False):
            flipped ^= 1 << int(bit)
        if flipped >= 2**63:
            flipped -= 2**64
        rows += [(f"p{i:02d}_a", base), (f"p{i:02d}_b", flipped)]
    df = spark.createDataFrame(rows, "id string, simhash long")
    with Regime() as regime:
        got = {(r.a, r.b) for r in _candidates(df, cfg, regime).collect()}
    for i in range(30):
        assert (f"p{i:02d}_a", f"p{i:02d}_b") in got, f"pair {i} missed"


def test_near_identical_found_by_blocks(spark):
    cfg = DedupConfig()
    text = " ".join(f"tok{i}" for i in range(200))
    # flip a couple of tokens -> small Hamming distance
    toks = text.split()
    toks[5] = "xxx"
    df = spark.createDataFrame(
        [(1, text), (2, " ".join(toks))], "doc_id int, text string"
    )
    with Regime() as regime:
        pairs = _candidates(_simhash(df, cfg), cfg, regime)
        assert {(r.a, r.b) for r in pairs.collect()} == {("1", "2")}


def test_empty_text_zero(spark):
    cfg = DedupConfig()
    df = spark.createDataFrame([(1, ""), (2, None)], "doc_id int, text string")
    rows = _simhash(df, cfg).collect()
    assert all(r.simhash == 0 for r in rows)


def test_simhash_width_validation():
    """simhash_bits is the probe-key-entropy lever (config.py): 64 and
    128 are implemented kernels; anything else must raise at config
    construction, never silently run 64-bit. Block geometry must stay
    lane-local (width divides 64, < 64)."""
    import pytest

    assert DedupConfig(simhash_bits=128).simhash_bits == 128
    with pytest.raises(ValueError, match="simhash_bits"):
        DedupConfig(simhash_bits=96)
    with pytest.raises(ValueError, match="hamming_blocks"):
        DedupConfig(hamming_blocks=2, hamming_d=3)
    with pytest.raises(ValueError, match="divide simhash_bits"):
        DedupConfig(simhash_bits=128, hamming_blocks=6, hamming_d=3)
    with pytest.raises(ValueError, match="block width"):
        DedupConfig(simhash_bits=128, hamming_blocks=2, hamming_d=1)


def test_probe_key_entropy_rule():
    """The runtime sizing advisory (config.py key-entropy rule): default
    config carries 40-bit keys — comfortable at 135k docs, violated at
    10^12 — and the uniform-model collision floor scales with n^2/2^k."""
    from hsip.simhash import probe_key_entropy

    cfg = DedupConfig()
    at_135k = probe_key_entropy(cfg, 135_203)
    assert at_135k["key_bits"] == 40.0
    assert at_135k["n_tables"] == 56.0
    assert at_135k["ok"]  # log2(135k)+8 ~ 25 < 40
    # uniform-bit floor ~ 0.47 pairs: confirms the measured 1.6M candidates
    # on the fixture are bit concentration, not birthday (BENCH/BASELINE.md)
    assert 0.1 < at_135k["expected_random_collisions"] < 1.0

    at_1e12 = probe_key_entropy(cfg, 10**12)
    assert not at_1e12["ok"]  # log2(1e12)+8 ~ 47.9 > 40
    assert at_1e12["expected_random_collisions"] > 1e9


def test_pipeline_emits_entropy_advisory(spark):
    """run_documents records the probe-key advisory in stats and warns
    when the corpus outgrows the probe keys: silent with the default
    40-bit keys at n=8, a UserWarning with 8-bit keys
    (hamming_blocks=8, hamming_d=7), where n=8 needs 11 bits."""
    import warnings

    from hsip.pipeline import run_documents

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"w{j}" for j in range(120))) for i in range(8)],
        "doc_id int, text string",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        res = run_documents(
            spark, docs, "doc_id", "text", DedupConfig(),
            channels=("simhash",),
        )
    ent = res.stats["probe_key_entropy"]
    assert ent["ok"] and ent["key_bits"] == 40.0

    with pytest.warns(UserWarning, match="probe keys"):
        res = run_documents(
            spark, docs, "doc_id", "text",
            DedupConfig(hamming_blocks=8, hamming_d=7), channels=("simhash",),
        )
    ent = res.stats["probe_key_entropy"]
    assert ent["ok"] is False
    assert ent["key_bits"] == 8.0 and ent["needed_bits"] > ent["key_bits"]


def test_hot_bucket_salt_policy_is_honoured(spark):
    """mh_sh_candidates passes cfg.hot_bucket_policy and cfg.seed to the
    bucket expansion: under "salt", a hot bucket of identical fingerprints
    pairs all members within each salt sub-bucket
    (pmod(xxhash64(id, seed), ceil(size / cap))), not every member with
    the bucket minimum (star)."""
    cfg = DedupConfig(bucket_cap=4, hot_bucket_policy="salt")
    ids = [f"d{i:02d}" for i in range(12)]
    df = spark.createDataFrame([(i, 12345) for i in ids], "id string, simhash long")
    salt_col = F.pmod(F.xxhash64("id", F.lit(cfg.seed)), F.lit(3)).alias("s")
    salt = {r.id: r.s for r in df.select("id", salt_col).collect()}
    want = {(a, b) for a in ids for b in ids if a < b and salt[a] == salt[b]}
    with Regime() as regime:
        got = {(r.a, r.b) for r in _candidates(df, cfg, regime).collect()}
    assert got == want
    assert any(a != ids[0] for a, _ in got), "star pairs: hot policy ignored"


def test_contract_query_is_the_pipelines_simhash_channel(spark):
    """The simhash_hamming_pairs contract query returns exactly the
    verified (a, b, hamming) edges of a SimHash-only pipeline run on the
    same documents: one featurizer and one candidate builder, so the
    contract pins the fingerprints every run computes."""
    import __spark_entry__ as E
    from hsip.pipeline import run_documents
    from tests.test_semantic_dedup import SF_DIR

    out = E.queries()["simhash_hamming_pairs"](spark, SF_DIR)
    got = sorted(tuple(r) for r in out.collect())
    out.unpersist()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = run_documents(spark, docs, "doc_id", "text", DedupConfig(),
                        channels=("simhash",))
    want = sorted(tuple(r) for r in res.verified.filter("verdict")
                  .select("a", "b", "hamming").collect())
    assert got == want and got
