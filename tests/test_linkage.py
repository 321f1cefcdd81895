"""Record-linkage fuzzy matching (hsip/linkage.py).

Pins: (1) blocked Levenshtein pairs against a brute-force Python oracle
within blocks, (2) compare never crosses blocks, (3) occurrence counts
ride the pair rows, (4) hot-block star degradation is logged, not
silent, (5) the caller's regime releases the internal cache.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from hsip.barrier import Regime
from hsip.linkage import distinct_names, fuzzy_name_pairs
from hsip.metrics import Recorder


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _pairs(df, name_col, **kw):
    """fuzzy_name_pairs' rows, collected under a regime that is then released."""
    with Regime() as regime:
        return fuzzy_name_pairs(df, name_col, regime=regime, **kw).collect()


NAMES = [
    # "bolt" block: several near names + exact repeats
    "red bolt", "red bolt", "rod bolt", "blue bolt", "big bolt",
    # "ring" block: one pair inside dist 2, one far
    "small ring", "smalll ring", "titanium ring",
    # singleton block
    "lone widget",
]


@pytest.fixture(scope="module")
def rows(spark):
    return spark.createDataFrame([(n,) for n in NAMES], "p_name string")


def test_distinct_names_counts_and_blocks(spark, rows):
    got = {
        r["name"]: (r["n"], r["blk"])
        for r in distinct_names(rows, "p_name").collect()
    }
    assert got["red bolt"] == (2, "bolt")
    assert got["small ring"] == (1, "ring")
    assert len(got) == len(set(NAMES))


def test_pairs_match_bruteforce_within_blocks(spark, rows):
    max_d = 2
    got = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in _pairs(rows, "p_name", max_dist=max_d)
    }
    names = sorted(set(NAMES))
    blk = lambda n: n.rsplit(" ", 1)[-1]  # noqa: E731
    want = {
        (a, b, _lev(a, b))
        for a, b in itertools.combinations(names, 2)
        if blk(a) == blk(b) and _lev(a, b) <= max_d
    }
    assert got == want
    # sanity on the fixture: real matches exist and cross-block near
    # names ("red bolt" vs "red ring"-style) were NOT compared
    assert ("small ring", "smalll ring", 1) in got
    assert all(a.rsplit(" ", 1)[-1] == b.rsplit(" ", 1)[-1] for a, b, _ in got)


def test_counts_ride_pairs(spark, rows):
    by_pair = {
        (r["name_a"], r["name_b"]): (r["n_a"], r["n_b"])
        for r in _pairs(rows, "p_name", max_dist=2)
    }
    assert by_pair[("red bolt", "rod bolt")] == (2, 1)


def test_hot_block_star_is_logged_not_silent(spark, rows):
    rec = Recorder(spark, catalog=None, run_id="t-linkage")
    got = {(r["name_a"], r["name_b"])
           for r in _pairs(rows, "p_name", max_dist=99, block_cap=2, recorder=rec)}
    # "bolt" (4 distinct) and "ring" (3 distinct) exceed cap=2 -> star
    # pairing: every member pairs with the block minimum only
    bolt_names = sorted({n for n in NAMES if n.endswith("bolt")})
    hub = bolt_names[0]
    assert {(a, b) for a, b in got if a.endswith("bolt")} == {
        (hub, n) for n in bolt_names[1:]
    }
    logged = rec.recorded()
    assert logged[("linkage_block", "bolt")] == 4.0
    assert logged[("linkage_block", "ring")] == 3.0


def test_custom_block_expr(spark, rows):
    # block on first character instead: "red bolt"/"rod bolt" pair,
    # "blue bolt"/"big bolt" pair (within dist), nothing crosses
    got = {(r["name_a"], r["name_b"])
           for r in _pairs(rows, "p_name", max_dist=3,
                           block_expr=F.substring("name", 1, 1))}
    assert ("red bolt", "rod bolt") in got
    assert all(a[0] == b[0] for a, b in got)


def test_default_block_survives_case_digits_punct(spark):
    """The default blocking key lowercases and takes the trailing
    alphanumeric run — names ending in uppercase, digits, or punctuation
    must land in real blocks, not one shared '' mega-block."""
    rows = spark.createDataFrame(
        [("ACME CORP",), ("ACME C0RP",), ("unit 7",), ("unit 77",),
         ("smith jr.",), ("smyth jr.",)], "p_name string")
    blocks = {r["name"]: r["blk"]
              for r in distinct_names(rows, "p_name").collect()}
    assert blocks["ACME CORP"] == "corp"
    assert blocks["unit 7"] == "7"
    assert blocks["smith jr."] == "jr"
    assert "" not in blocks.values()

    got = {(r["name_a"], r["name_b"], r["dist"])
           for r in _pairs(rows, "p_name", max_dist=2)}
    assert ("smith jr.", "smyth jr.", 1) in got


def test_regime_releases_internal_cache(spark):
    """fuzzy_name_pairs under a released regime must not leak its
    distinct-names blocks for the life of the session: only the result
    the caller materialized (``regime.barrier``) may stay, and every block
    id the call created is gone once that result is unpersisted
    (unpersist is async, so the check polls briefly). Uses a test-local
    frame so the plan can't alias cache entries other tests in this
    module created."""
    import time

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    local = spark.createDataFrame(
        [("green gear",), ("greon gear",), ("brass gear",), ("odd cog",)],
        "p_name string")
    before = ids()
    with Regime() as regime:
        out = regime.barrier(fuzzy_name_pairs(local, "p_name", max_dist=2, regime=regime))
    new = ids() - before
    # the materialized result, plus possibly the internal names cache
    # whose non-blocking unpersist hasn't landed yet
    assert 1 <= len(new) <= 2
    assert out.count() > 0
    out.unpersist(True)
    deadline = time.time() + 10
    while time.time() < deadline and (new & ids()):
        time.sleep(0.2)
    assert not (new & ids())
