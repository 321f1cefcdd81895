"""X1/X2 micro-graph goldens (FIXTURES.md §3): chain, star, two components,
self-loop, duplicate edges, empty set; plus a random-graph oracle check."""

import numpy as np
import pytest

from hsip.barrier import Regime
from hsip.cc import assign_clusters, canonical_representatives, connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "a string, b string")
    with Regime() as regime:
        return {r.id: r.cluster_id for r in connected_components(df, regime).collect()}


def test_chain(spark):
    got = _cc(spark, [("1", "2"), ("2", "3"), ("3", "4"), ("4", "5")])
    assert got == {str(i): "1" for i in range(1, 6)}


def test_star(spark):
    got = _cc(spark, [("9", str(i)) for i in range(1, 5)])
    assert got == {"9": "1", "1": "1", "2": "1", "3": "1", "4": "1"}


def test_two_components(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_self_loop_and_duplicates(spark):
    got = _cc(spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])
    assert got == {"a": "a", "b": "a"}


def test_empty(spark):
    df = spark.createDataFrame([], "a string, b string")
    with Regime() as regime:
        assert connected_components(df, regime).count() == 0


def test_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(13)
    n = 200
    edges = [(f"n{a:03d}", f"n{b:03d}") for a, b in rng.integers(0, n, size=(150, 2))]
    # driver-side union-find oracle
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rng.integers(0, n, size=(150, 2)):
        pass
    for e in edges:
        a, b = int(e[0][1:]), int(e[1][1:])
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for i in range(n):
        want[f"n{i:03d}"] = f"n{find(i):03d}"
    got = _cc(spark, [e for e in edges if e[0] != e[1]])
    for node, root in got.items():
        assert want[node] == root


def test_assign_clusters_singletons(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame([("a", "b")], "a string, b string")
    with Regime() as regime:
        got = {r.id: r.cluster_id for r in assign_clusters(ids, edges, regime).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_representatives(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame([("b", "c")], "a string, b string")
    with Regime() as regime:
        reps = {
            r.cluster_id: (r.representative, r.cluster_size)
            for r in canonical_representatives(
                assign_clusters(ids, edges, regime)).collect()
        }
    assert reps == {"a": ("a", 1), "b": ("b", 2)}


@pytest.mark.parametrize("local_max_edges", [1_000_000, 0], ids=["default", "0"])
def test_reliable_checkpoint_same_clusters(spark, tmp_path, local_max_edges):
    """cfg-selected reliable checkpoint() (fault-tolerant lineage cut for
    real clusters) must produce identical components to localCheckpoint,
    on the local union-find path and through the star rounds, and leave
    no checkpoint file behind once the regime exits."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("g", "h"), ("h", "a")],
        "a string, b string",
    )
    with Regime() as regime:
        local = {(r.id, r.cluster_id)
                 for r in connected_components(edges, regime).collect()}
    ckpt = tmp_path / "cc_ckpt"
    with Regime(checkpoint_dir=str(ckpt)) as regime:
        reliable = {
            (r.id, r.cluster_id)
            for r in connected_components(
                edges, regime, local_max_edges=local_max_edges).collect()
        }
        assert any(ckpt.rglob("part-*"))
    assert local == reliable
    assert not any(ckpt.rglob("part-*"))


def test_cc_restores_session_confs(spark):
    """The latency-tuned loop (AQE off, fixed small shuffle width) must
    restore the session confs afterward — including on convergence at
    round 0 — so bulk stages after CC keep their AQE/runtime settings."""
    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
    with Regime() as regime:
        got = {(r.id, r.cluster_id)
               for r in connected_components(edges, regime).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}
    after = {k: spark.conf.get(k) for k in before}
    assert after == before


def test_quality_representatives_argmax_and_ties(spark):
    """Keeper = max score, ties by max id; singletons keep themselves;
    physical plan is a hash aggregate (no window sort over members)."""
    from hsip.cc import quality_representatives

    clusters = spark.createDataFrame(
        [("d1", "c1"), ("d2", "c1"), ("d3", "c1"), ("d9", "c9")],
        "id string, cluster_id string",
    )
    scores = spark.createDataFrame(
        [("d1", 10), ("d2", 30), ("d3", 30), ("d9", 5)],
        "id string, score int",
    )
    out = quality_representatives(clusters, scores)
    got = {
        r.cluster_id: (r.representative, r.rep_score, r.cluster_size)
        for r in out.collect()
    }
    # c1: d2 and d3 tie at 30 -> max id d3 wins; size counts all members
    assert got == {"c1": ("d3", 30, 3), "c9": ("d9", 5, 1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # scale shape: map-side partial_max combine feeding one exchange,
    # never a Window sort over every cluster's member rows
    assert "partial_max" in plan
    assert "Window" not in plan


def test_quality_representatives_scoreless_members(spark):
    """Members missing from scores still count toward cluster_size and
    never out-rank a scored member; an all-unscored cluster keeps its
    max id with null rep_score."""
    from hsip.cc import quality_representatives

    clusters = spark.createDataFrame(
        [("d1", "c1"), ("d2", "c1"), ("e1", "c2"), ("e2", "c2")],
        "id string, cluster_id string",
    )
    scores = spark.createDataFrame([("d1", 1)], "id string, score int")
    got = {
        r.cluster_id: (r.representative, r.rep_score, r.cluster_size)
        for r in quality_representatives(clusters, scores).collect()
    }
    assert got == {"c1": ("d1", 1, 2), "c2": ("e2", None, 2)}


def test_nonconvergence_raises_instead_of_mislabeling(spark):
    """Exhausting max_iter without checksum convergence must raise: the
    post-loop extraction assumes a converged star graph, and falling
    through would silently split one component across several
    cluster_ids."""
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(12)], ["a", "b"])
    with Regime() as regime:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, regime, max_iter=1, local_max_edges=0)
        # same edges converge fine with the default budget
        out = connected_components(chain, regime, local_max_edges=0)
        assert out.select("cluster_id").distinct().count() == 1


def test_bcubed_hand_example(spark):
    """Bagga-Baldwin hand example: pred merges truth clusters {1,2} and
    {3}; item-level precision/recall computed by hand."""
    from hsip.recall import bcubed_scores

    pred = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B")], "id int, cluster_id string"
    )
    truth = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "z")], "id int, cluster_id string"
    )
    r = bcubed_scores(pred, truth).collect()[0]
    # precision: items 1,2 -> 2/3; item 3 -> 1/3; item 4 -> 1
    #   = (2/3 + 2/3 + 1/3 + 1) / 4 = (8/3) / 4 = 2/3
    # recall: items 1,2 -> 2/2; item 3 -> 1; item 4 -> 1  = 1.0
    assert r.n_items == 4
    assert abs(r.bcubed_precision - 2 / 3) < 1e-6
    assert r.bcubed_recall == 1.0
    p, rc = 2 / 3, 1.0
    assert abs(r.bcubed_f1 - 2 * p * rc / (p + rc)) < 1e-6


def test_bcubed_identical_perfect_and_python_oracle(spark):
    """Identical clusterings score 1/1/1; random labelings match a
    brute-force per-item python oracle; empty intersection -> vacuous 1.0."""
    import random

    from hsip.recall import bcubed_scores

    rng = random.Random(7)
    items = list(range(40))
    pc = {i: rng.randrange(5) for i in items}
    tc = {i: rng.randrange(4) for i in items}

    def oracle():
        ps, rs = 0.0, 0.0
        for i in items:
            P = {j for j in items if pc[j] == pc[i]}
            T = {j for j in items if tc[j] == tc[i]}
            ov = len(P & T)
            ps += ov / len(P)
            rs += ov / len(T)
        return ps / len(items), rs / len(items)

    pred = spark.createDataFrame(
        [(i, str(pc[i])) for i in items], "id int, cluster_id string"
    )
    truth = spark.createDataFrame(
        [(i, str(tc[i])) for i in items], "id int, cluster_id string"
    )
    r = bcubed_scores(pred, truth).collect()[0]
    op, orc = oracle()
    assert abs(r.bcubed_precision - op) < 1e-6
    assert abs(r.bcubed_recall - orc) < 1e-6

    same = bcubed_scores(pred, pred).collect()[0]
    assert (same.bcubed_precision, same.bcubed_recall, same.bcubed_f1) == (
        1.0, 1.0, 1.0,
    )

    other = spark.createDataFrame(
        [(99, "q")], "id int, cluster_id string"
    )
    empty = bcubed_scores(pred, other).collect()[0]
    assert empty.n_items == 0
    assert (empty.bcubed_precision, empty.bcubed_recall, empty.bcubed_f1) == (
        1.0, 1.0, 1.0,
    )


def test_adjusted_rand_python_oracle_and_edges(spark):
    """ARI vs a brute-force contingency oracle; identical -> 1,
    all-singleton degenerate -> 1, cross-cutting labelings ~ chance."""
    import random
    from math import comb

    from hsip.recall import adjusted_rand

    rng = random.Random(11)
    items = list(range(60))
    pc = {i: rng.randrange(6) for i in items}
    tc = {i: rng.randrange(5) for i in items}

    def oracle():
        from collections import Counter

        cells = Counter((pc[i], tc[i]) for i in items)
        psz = Counter(pc[i] for i in items)
        tsz = Counter(tc[i] for i in items)
        idx = sum(comb(v, 2) for v in cells.values())
        ppv = sum(comb(v, 2) for v in psz.values())
        ttv = sum(comb(v, 2) for v in tsz.values())
        tot = comb(len(items), 2)
        exp = ppv * ttv / tot
        den = (ppv + ttv) / 2 - exp
        return (idx - exp) / den

    mk = lambda m: spark.createDataFrame(
        [(i, str(m[i])) for i in items], "id int, cluster_id string"
    )
    r = adjusted_rand(mk(pc), mk(tc)).collect()[0]
    assert r.n_items == 60
    assert abs(r.ari - oracle()) < 1e-6

    same = adjusted_rand(mk(pc), mk(pc)).collect()[0]
    assert same.ari == 1.0

    singl = spark.createDataFrame(
        [(i, str(i)) for i in items], "id int, cluster_id string"
    )
    degen = adjusted_rand(singl, singl).collect()[0]
    assert degen.ari == 1.0  # zero-denominator convention


def test_cluster_metrics_null_labels_excluded_consistently(spark):
    """NULL labels (partial ground truth) exclude the item from BOTH
    metrics, which must agree on n_items — without the shared filter,
    equi-joins drop NULL cells in B-cubed while groupBy keeps them as a
    pseudo-cluster in ARI."""
    from hsip.recall import adjusted_rand, bcubed_scores

    pred = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (4, "B")], "id int, cluster_id string"
    )
    truth = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None), (4, "y")], "id int, cluster_id string"
    )
    bc = bcubed_scores(pred, truth).collect()[0]
    ar = adjusted_rand(pred, truth).collect()[0]
    assert bc.n_items == 3 == ar.n_items
    # over items {1,2,4}: precision 1,2 -> 2/2; 4 -> 1/2 (its pred
    # cluster B has 2 members post-join? no: cells only count labeled
    # items, so B covers item 4 alone) -> all 1.0
    assert bc.bcubed_precision == 1.0 and bc.bcubed_recall == 1.0
    assert ar.ari == 1.0
