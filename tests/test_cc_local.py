"""Scale-adaptive connected components: below ``local_max_edges`` the
converged-edge graph is finished by a single-task vectorized union-find
(one Spark job) instead of the iterative large-star/small-star loop
(~10 driver round-trips per round — a pure serial floor on small edge
sets, BENCH/BASELINE.md round 5).

These tests pin that the two physical paths are EXACTLY equivalent:
same (id, cluster_id) rows, same min-id labeling convention, for string
and integer id types, across seeded random graphs and the micro goldens.
"""

import numpy as np
import pytest

from hsip.barrier import Regime
from hsip.cc import connected_components


def _collect(df):
    return {(r.id, r.cluster_id) for r in df.collect()}


def _both_paths(spark, edges, schema):
    df = spark.createDataFrame(edges, schema)
    with Regime() as regime:
        local = _collect(connected_components(df, regime, local_max_edges=10**9))
        dist = _collect(connected_components(df, regime, local_max_edges=0))
    return local, dist


def _union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for x in parent:
        comps.setdefault(find(x), set()).add(x)
    out = set()
    for members in comps.values():
        m = min(members)
        out |= {(x, m) for x in members}
    return out


@pytest.mark.parametrize("seed,n,m", [(7, 60, 40), (13, 200, 150), (99, 50, 120)])
def test_local_equals_distributed_random_strings(spark, seed, n, m):
    rng = np.random.default_rng(seed)
    edges = [
        (f"n{a:03d}", f"n{b:03d}")
        for a, b in rng.integers(0, n, size=(m, 2))
        if a != b
    ]
    local, dist = _both_paths(spark, edges, "a string, b string")
    assert local == dist == _union_find_oracle(edges)


def test_local_equals_distributed_int_ids(spark):
    rng = np.random.default_rng(5)
    edges = [
        (int(a), int(b)) for a, b in rng.integers(0, 80, size=(60, 2)) if a != b
    ]
    local, dist = _both_paths(spark, edges, "a long, b long")
    assert local == dist == _union_find_oracle(edges)


def test_local_micro_goldens(spark):
    # chain, star, two components, self-loop+duplicates — forced local path
    cases = [
        ([("1", "2"), ("2", "3"), ("3", "4"), ("4", "5")],
         {(str(i), "1") for i in range(1, 6)}),
        ([("9", str(i)) for i in range(1, 5)],
         {("9", "1"), ("1", "1"), ("2", "1"), ("3", "1"), ("4", "1")}),
        ([("a", "b"), ("b", "c"), ("x", "y")],
         {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}),
        ([("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")],
         {("a", "a"), ("b", "a")}),
    ]
    for edges, want in cases:
        df = spark.createDataFrame(edges, "a string, b string")
        with Regime() as regime:
            got = _collect(connected_components(df, regime, local_max_edges=10**9))
        assert got == want


def test_local_empty_edges(spark):
    df = spark.createDataFrame([], "a string, b string")
    with Regime() as regime:
        out = connected_components(df, regime, local_max_edges=10**9)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["id", "cluster_id"]


def test_local_lexicographic_min_matches_spark_string_order(spark):
    # multi-char ids where lexicographic and numeric order disagree:
    # component {"10", "9"} must get cluster_id "10" (lexicographic min)
    edges = [("9", "10"), ("10", "2x"), ("b", "B")]
    local, dist = _both_paths(spark, edges, "a string, b string")
    assert local == dist
    assert ("9", "10") in local and ("2x", "10") in local
    # "B" < "b" in binary/code-point order
    assert ("b", "B") in local
