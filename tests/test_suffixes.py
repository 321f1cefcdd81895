"""G7/V4: suffix array correctness, winnowing guarantee, channel vs
suffix-array oracle (SURVEY.md §5.3, §7 hard-part 1)."""

import numpy as np

from hsip.barrier import Regime
from hsip.config import DedupConfig
from hsip.suffixes import (
    _rolling_hashes,
    _winnow,
    duplicate_spans_local,
    fingerprint_table,
    substr_candidates,
    suffix_array,
    verify_substr,
)


def test_suffix_array_matches_sorted_suffixes():
    rng = np.random.default_rng(1)
    for _ in range(5):
        data = rng.integers(97, 102, size=200).astype(np.uint8)
        s = bytes(data)
        want = sorted(range(len(s)), key=lambda i: s[i:])
        got = suffix_array(data)
        assert list(got) == want


def test_rolling_hash_position_independent():
    a = np.frombuffer(b"xxxhello worldyyy", dtype=np.uint8)
    b = np.frombuffer(b"hello worldzzzzzz", dtype=np.uint8)
    ha = _rolling_hashes(a, 5)
    hb = _rolling_hashes(b, 5)
    # window "hello" at pos 3 in a, pos 0 in b
    assert ha[3] == hb[0]
    assert ha[0] != hb[0]


def test_winnow_guarantee():
    """Any common substring of length >= k+w-1 shares a selected print."""
    rng = np.random.default_rng(4)
    k, w = 20, 10
    base = bytes(rng.integers(97, 123, size=500).astype(np.uint8))
    span = base[100 : 100 + k + w - 1]  # exactly threshold length
    other = (
        bytes(rng.integers(97, 123, size=300).astype(np.uint8))
        + span
        + bytes(rng.integers(97, 123, size=300).astype(np.uint8))
    )
    for text in (base, other):
        pass
    ha = _rolling_hashes(np.frombuffer(base, np.uint8), k)
    hb = _rolling_hashes(np.frombuffer(other, np.uint8), k)
    fa = set(ha[_winnow(ha, w)].tolist())
    fb = set(hb[_winnow(hb, w)].tolist())
    assert fa & fb


def test_duplicate_spans_local_oracle():
    texts = {
        "a": "The quick brown fox jumps over the lazy dog repeatedly today",
        "b": "Something else entirely; quick brown fox jumps over the lazy cat",
        "c": "completely unrelated content here",
    }
    spans = duplicate_spans_local(texts, min_len=20)
    assert [(a, b) for a, b, _ in spans] == [("a", "b")]
    assert spans[0][2] >= 30  # " quick brown fox jumps over the lazy "


def test_channel_end_to_end_matches_oracle(spark):
    """Fingerprint channel finds exactly the pairs the suffix-array oracle
    finds at threshold L (no false negatives by winnowing guarantee; no
    false positives after exact verify)."""
    cfg = DedupConfig(min_substr_len=60, winnow_window=20)
    rng = np.random.default_rng(8)

    def rand_text(n):
        return " ".join(
            "".join(chr(97 + c) for c in rng.integers(0, 26, size=5))
            for _ in range(n)
        )

    base = rand_text(100)
    span = base[200:290]  # 90 chars > L=60
    docs = {
        "d0": base,
        "d1": rand_text(80)[:200] + " " + span + " " + rand_text(40),
        "d2": rand_text(90),
        "d3": base,  # full duplicate
    }
    oracle = {
        (a, b) for a, b, l in duplicate_spans_local(docs, cfg.min_substr_len)
    }
    df = spark.createDataFrame(list(docs.items()), "id string, text string")
    fps = fingerprint_table(df, "id", "text", cfg)
    with Regime() as regime:
        pairs, _ = substr_candidates(fps, cfg, regime)
        verified = verify_substr(pairs, df, "id", "text", cfg, regime)
        got = {(r.a, r.b) for r in verified.filter("verdict").collect()}
    # The SA oracle reports *adjacent* cross-doc pairs only — with d3 == d0
    # identical, (d0, d1) is shadowed by d3 in suffix order. The channel
    # may legitimately find a superset; every found pair is exact-verified.
    assert oracle <= got
    assert ("d0", "d1") in got and ("d0", "d3") in got and ("d1", "d3") in got
    assert not any("d2" in p for p in got)


def test_exact_substr_within_groups(spark):
    """Grouped-map suffix-array extractor finds cross-doc spans per group."""
    from hsip.suffixes import exact_substr_within_groups

    cfg = DedupConfig(min_substr_len=30, winnow_window=10)
    span = "this exact span is repeated across two documents verbatim"
    rows = [
        ("a1", "g1", "prefix one " + span + " suffix one"),
        ("a2", "g1", "other start " + span + " other end"),
        ("a3", "g1", "completely unrelated text with nothing shared at all"),
        ("b1", "g2", "group two " + span + " text"),  # different group: not paired with g1
    ]
    df = spark.createDataFrame(rows, "id string, grp string, text string")
    got = {(r.a, r.b): r.substr_len for r in
           exact_substr_within_groups(df, "id", "text", "grp", cfg).collect()}
    assert ("a1", "a2") in got and got[("a1", "a2")] >= len(span)
    assert all("a3" not in p and "b1" not in p for p in got)


def test_exact_substr_group_byte_budget(spark):
    """An oversized group is sub-bucketed (no single-task gigabyte
    concatenation) and the split is logged — no silent caps. Doc pairs
    that land in the same sub-bucket still yield exact spans."""
    import dataclasses

    from hsip.suffixes import exact_substr_within_groups

    cfg = dataclasses.replace(
        DedupConfig(min_substr_len=30, winnow_window=10), substr_group_byte_budget=200
    )
    span = "this exact span is repeated across two documents verbatim"
    # one group far over the 200-byte budget -> ceil(bytes/200) sub-buckets
    rows = [(f"d{i}", "g1", f"doc {i} padding " + span + " tail " + "z" * 40)
            for i in range(12)]
    df = spark.createDataFrame(rows, "id string, grp string, text string")

    from hsip.metrics import Recorder

    # the split counts are observed: they land once the output has run
    rec = Recorder(spark, None, run_id="budget")
    out = exact_substr_within_groups(df, "id", "text", "grp", cfg, recorder=rec)
    got = {(r.a, r.b) for r in out.collect()}
    rec.collect_observed()
    logged = rec.recorded()
    assert logged[("exact_substr_within_groups", "groups_sub_bucketed")] == 1
    assert logged[("exact_substr_within_groups", "max_group_bytes")] > 200
    # same-sub-bucket pairs are still extracted exactly; with 12 docs over
    # >= 2 sub-buckets some pair must co-locate (pigeonhole)
    assert got, "sub-bucketing extracted no spans at all"
    # the unbudgeted run sees the whole group in one SA; the budgeted run
    # must differ by missing some cross-sub-bucket adjacency — that
    # difference IS the (logged) truncation. (The extractor emits
    # adjacent-suffix pairs, so the two runs' pair sets aren't nested.)
    full = {
        (r.a, r.b)
        for r in exact_substr_within_groups(
            df, "id", "text", "grp", DedupConfig(min_substr_len=30, winnow_window=10)
        ).collect()
    }
    assert full - got, "budget did not actually split the group"


def test_hot_fingerprint_star_pairing(spark):
    """Boilerplate shared by many docs: capped star pairing still verifies."""
    cfg = DedupConfig(min_substr_len=40, winnow_window=10, substr_bucket_cap=3)
    boiler = "exactly the same boilerplate text repeated in every document here"
    docs = [(f"x{i}", boiler + f" unique tail {i}") for i in range(8)]
    df = spark.createDataFrame(docs, "id string, text string")
    fps = fingerprint_table(df, "id", "text", cfg)
    with Regime() as regime:
        pairs, hot = substr_candidates(fps, cfg, regime)
        assert hot.count() > 0
        verified = verify_substr(pairs, df, "id", "text", cfg, regime)
        kept = verified.filter("verdict")
        # star edges from x0 to everyone — one component despite the cap
        assert kept.count() >= 7


def test_anchor_positions_deterministic(spark):
    """Anchors kept per pair are sort_array-ordered: independent of
    partitioning / collect_list arrival order (ADVICE.md r1), so replayed
    tasks reach identical verdicts."""
    from hsip.config import DedupConfig
    from hsip.suffixes import fingerprint_table, substr_candidates

    cfg = DedupConfig(min_substr_len=40, winnow_window=10)
    span = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [
            ("d1", "PREFIX one " + span + " SUFFIX one"),
            ("d2", "totally different lead-in " + span + " other tail"),
            ("d3", span),
        ],
        "id string, text string",
    )
    fps = fingerprint_table(docs, "id", "text", cfg).cache()
    fps.count()

    def anchors(nparts):
        with Regime() as regime:
            pairs, _ = substr_candidates(fps.repartition(nparts).cache(), cfg, regime)
            return {
                (r.a, r.b): (list(r.pos_as), list(r.pos_bs), r.n_anchors)
                for r in pairs.collect()
            }

    a, b = anchors(7), anchors(3)
    assert a and a == b


def test_shared_expansion_anchors_and_layout(spark):
    """substr_candidates rides lsh's shared bucket expansion: its anchors
    and hot stats equal a driver-side brute force over the fingerprint
    rows (every pair in a small bucket, a star to the min id in a hot
    one) in both regimes, and the eager plan exchanges nothing on fp_hash
    after the fingerprint barrier — the layout contract
    test_materialize_keeps_hash_layout_under_aqe pins for bucket tables."""
    import re
    from itertools import combinations

    from hsip.barrier import Regime

    cfg = DedupConfig(min_substr_len=40, winnow_window=10,
                      substr_bucket_cap=3, max_anchors_per_pair=4)
    boiler = "exactly the same boilerplate text repeated in every document here"
    shared = "a second passage that only three of the documents have in common"
    docs = [(f"x{i}", boiler + f" unique tail number {i}") for i in range(6)]
    docs += [(f"y{i}", f"lead {i} " + shared + f" end {i}") for i in range(3)]
    docs += [("z0", "nothing in this one is shared with any other document at all")]
    df = spark.createDataFrame(docs, "id string, text string")
    fps = fingerprint_table(df, "id", "text", cfg)

    buckets: dict[int, list] = {}
    for r in fps.collect():
        buckets.setdefault(r.fp_hash, []).append((r.id, r.pos))
    anchors: dict[tuple, list] = {}
    want_hot = {}
    for h, rows in buckets.items():
        rows.sort()
        if len(rows) > cfg.substr_bucket_cap:
            want_hot[h] = len(rows)
            legs = [(rows[0], r) for r in rows[1:]]
        else:
            legs = combinations(rows, 2)
        for (a, pa), (b, pb) in legs:
            anchors.setdefault((a, b), []).append((pa, pb))
    acap = cfg.max_anchors_per_pair
    want = {}
    for k, v in anchors.items():
        kept = sorted(v)[:acap]
        want[k] = (len(v), [p for p, _ in kept], [q for _, q in kept])
    # both expansion legs and the anchor slice are exercised
    assert want_hot and any(2 <= len(r) <= cfg.substr_bucket_cap for r in buckets.values())
    assert any(n > acap for n, _, _ in want.values())

    for regime in (Regime(), Regime(width=8)):
        try:
            pairs, hot = substr_candidates(fps, cfg, regime)
            rows = pairs.collect()
            assert {r.channel for r in rows} == {"substr"}
            got = {(r.a, r.b): (r.n_anchors, list(r.pos_as), list(r.pos_bs)) for r in rows}
            assert got == want
            assert {r.fp_hash: r.bucket_size for r in hot.collect()} == want_hot
            if regime.eager:
                for q in (pairs, hot):
                    plan = q._jdf.queryExecution().executedPlan().toString()
                    assert not re.search(r"Exchange hashpartitioning\(fp_hash", plan), plan
                plan = pairs._jdf.queryExecution().executedPlan().toString()
                assert re.search(r"Exchange hashpartitioning\(a#", plan), plan
        finally:
            regime.release()


def test_span_batch_kernel_equals_scalar_loop():
    """The vectorized cross-pair span kernel (_span_lens_batch) must
    reproduce the scalar per-anchor loop (_extend_span + early break at
    min_len) byte for byte, including the early-break-dependent reported
    lengths (VERDICT.md r3 item 6)."""
    import numpy as np
    import pyarrow as pa

    from hsip.suffixes import _extend_span, _span_lens_batch

    rng = np.random.default_rng(11)
    k, min_len = 8, 20
    enc_a, enc_b, pas, pbs = [], [], [], []
    alpha = np.frombuffer(b"abcd", np.uint8)
    for _ in range(200):
        n_a = int(rng.integers(0, 600))
        n_b = int(rng.integers(0, 600))
        a = alpha[rng.integers(0, 4, n_a)].tobytes()
        b = alpha[rng.integers(0, 4, n_b)].tobytes()
        if n_a > 40 and n_b > 40 and rng.random() < 0.7:
            # plant a shared span so matches actually occur
            ln = int(rng.integers(k, min(n_a, n_b)))
            pa0 = int(rng.integers(0, n_a - ln + 1))
            pb0 = int(rng.integers(0, n_b - ln + 1))
            b = b[:pb0] + a[pa0:pa0 + ln] + b[pb0 + ln:]
        n_anc = int(rng.integers(0, 5))
        pa_l = [int(rng.integers(0, max(n_a, 1))) for _ in range(n_anc)]
        pb_l = [int(rng.integers(0, max(n_b, 1))) for _ in range(n_anc)]
        enc_a.append(a)
        enc_b.append(b)
        pas.append(pa_l)
        pbs.append(pb_l)
    # a sliced batch: the kernel must honour the Arrow arrays' offsets
    texts_a = pa.array(["pad"] + [a.decode() for a in enc_a]).slice(1)
    texts_b = pa.array(["pad"] + [b.decode() for b in enc_b]).slice(1)
    anchors = pa.list_(pa.int32())
    got = _span_lens_batch(texts_a, texts_b, pa.array([[9]] + pas, anchors).slice(1),
                           pa.array([[9]] + pbs, anchors).slice(1), k, min_len)
    for i in range(len(enc_a)):
        ba = np.frombuffer(enc_a[i], np.uint8)
        bb = np.frombuffer(enc_b[i], np.uint8)
        best = 0
        for pa, pb in zip(pas[i], pbs[i]):
            best = max(best, _extend_span(ba, bb, pa, pb, k))
            if best >= min_len:
                break
        assert got[i] == best, (i, got[i], best)


def test_duplicate_spans_local_run_closure_transitive_pairs():
    """Three docs sharing ONE span must yield all THREE pairs — the
    adjacent-only scan emitted (A,B), (B,C) and missed (A,C), charging
    the channel's correct (A,C) verdict as spurious (round-5 sf0.1
    audit). Includes padding so the shared suffixes are non-adjacent."""
    span = "the exact boilerplate block shared verbatim by all three docs"
    texts = {
        "a": "alpha preamble " + span + " alpha tail",
        "b": "bravo intro " + span + " bravo outro words",
        "c": "charlie start " + span + " charlie end",
        "d": "entirely unrelated filler content with no overlap at all",
    }
    got = {(a, b) for a, b, l in duplicate_spans_local(texts, min_len=40)}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}
    # every reported span length is genuine (>= min_len, exists in both)
    for a, b, l in duplicate_spans_local(texts, min_len=40):
        ta, tb = texts[a], texts[b]
        assert l >= 40
        assert any(ta[i:i + l] in tb for i in range(len(ta) - l + 1))
