"""Pipeline configuration + deterministic fingerprinting.

Every knob that changes output lives here; the fingerprint keys checkpoint
manifests so a config change invalidates downstream stages (SURVEY.md §3,
entry point 3). All randomness in the pipeline derives from ``seed`` —
required for the recall-reproducibility and resume invariants
(/root/repo/BASELINE.json:6 "resumable", :2 "recall >= 0.99").
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # shingling (G1)
    shingle_k: int = 5              # token k-grams
    # MinHash (G2) — num_perm = lsh_bands * lsh_rows
    num_perm: int = 128
    # signatures are one-permutation hashing + rotation densification,
    # O(S+P) per doc (NIPS'12/ICML'14; minhash.py), at any num_perm
    seed: int = 42
    # LSH banding (G3/G4); threshold ~ (1/b)^(1/r) = (1/32)^(1/4) ~ 0.42
    lsh_bands: int = 32
    lsh_rows: int = 4
    bucket_cap: int = 64            # hot-bucket policy threshold (§4.2.1)
    # hot-bucket policy: "star" (pair to bucket min — keeps the bucket one
    # component; right for duplicate groups) or "salt" (pmod(xxhash64(id),s)
    # sub-buckets, all-pairs within; bounds task cost, drops cross-salt
    # pairs, truncation logged; right for boilerplate buckets)
    hot_bucket_policy: str = "star"
    # verification (V2)
    jaccard_threshold: float = 0.8
    # SimHash (G5/G6). 64 is the implemented width (the bit-vote kernel
    # and Hamming verify pack the fingerprint into one long); the knob
    # exists because probe-key ENTROPY — (blocks-d)/blocks * bits — is
    # the lever that bounds random candidate collisions at extreme doc
    # counts (keep it >= ~log2(n_docs) + margin; at B=8, d=3, 64 bits
    # the 40-bit keys measurably birthday-collide by ~135k concentrated-
    # bit docs — BENCH/BASELINE.md round-5 work counters). The 128-bit
    # width (80-bit keys at B=8,d=3) is the 10^9+-distinct-docs config,
    # implemented as a two-lane array<bigint> fingerprint (simhash.py);
    # the pipeline's probe_key_entropy advisory says when to switch.
    simhash_bits: int = 64
    hamming_d: int = 3              # candidates within Hamming distance d
    # B blocks -> C(B, B-d) probe tables with (B-d)*64/B-bit keys
    # (generalized Manku'07; B=8, d=3 -> 56 tables, 40-bit keys)
    hamming_blocks: int = 8
    # suffix/substring channel (G7/V4)
    min_substr_len: int = 200       # chars; duplicates = common substring >= L
    winnow_window: int = 100        # winnowing window w; guarantee k_sa+w-1 <= L
    substr_bucket_cap: int = 64
    # anchors kept per candidate pair for span verification — kept in
    # deterministic sort_array order; pairs exceeding it are counted to
    # metrics (no silent caps)
    max_anchors_per_pair: int = 16
    # incremental delta-vs-index: a delta doc hitting an over-cap index
    # bucket pairs with the bucket MIN plus ~this many deterministically
    # sampled members (pmod(xxhash64(id), bsz/k) == 0), so one failed
    # verify against the min doesn't cost every match in the bucket;
    # still O(k * |delta|) edges, truncation logged
    hot_anchor_sample_k: int = 3
    # exact_substr_within_groups: groups whose summed normalized-text bytes
    # exceed this budget are sub-bucketed by doc-id hash so no single
    # applyInPandas task concatenates gigabytes; cross-sub-bucket spans in
    # an oversized group are NOT extracted here (recall still comes from
    # the fingerprint channel) and every split group is surfaced via the
    # returned stats / recorder — no silent caps (§4.2.1)
    substr_group_byte_budget: int = 256 * 1024 * 1024
    # optional duplicate-span EXTRACTION stage (Lee et al. ACL'22
    # removal use-case): when set, run_documents emits a
    # ``duplicate_spans`` table via exact_substr_within_groups, grouping
    # docs by this SQL expression over the INPUT frame (e.g. "lang",
    # "substring(doc_id, 1, 2)", or "'all'" for one corpus-wide group —
    # the per-group byte budget sub-buckets oversized groups either way).
    # Flows through the same stage checkpoint/lineage/metrics discipline
    # as every other stage.
    extract_spans_group_col: str | None = None
    # optional duplicate-span REMOVAL stage (the ACL'22 rewrite step):
    # when set, run_documents also emits a ``docs_cleaned`` table —
    # positional spans from removal_spans_within_groups (keep-SA-first
    # survivor policy, grouped by this SQL expression) excised from the
    # RAW text via spans.remove_spans. Independent of the extraction
    # flag; offsets index the input text column as given.
    remove_spans_group_col: str | None = None
    # exact-collapse pre-pass: group byte-identical texts BEFORE the
    # near-dup channels and featurize/block/verify ONE representative per
    # distinct text; members attach back as verified ``exact``-channel
    # edges (a = group min-id rep, b = member), so CC recovers identical
    # cluster assignments (byte-equal texts have byte-equal shingles,
    # signatures and fingerprints — every channel's verdict is invariant
    # under the substitution). This is the standard industrial layout
    # (exact dedup -> MinHash over uniques): on boilerplate-heavy corpora
    # the candidate-pair count inside hot buckets grows with the SQUARE
    # of the copy count, so collapsing copies is the difference between
    # O(distinct^2)-bounded and O(corpus^2)-bounded candidate work at
    # 10^12 turns. Costs two shuffles of (id, 16-byte text hash).
    # SEMANTIC ONLY for sub-shingle-size texts: byte-identical docs too
    # short for any channel to feature (e.g. empty strings) cluster
    # together here but not in the default path — a strictly more
    # correct answer; everywhere else output is equal (pinned by
    # tests/test_pipeline_e2e.py). Default off so the per-pair verified
    # table keeps its brute-force-oracle-pinned shape.
    collapse_exact: bool = False
    # representative (keeper) policy — X3. None: deterministic min-id.
    # Set to a SQL expression over the INPUT frame (e.g. "n_chars",
    # "length(text)", a quality score column) to keep the BEST member of
    # each cluster instead (RefinedWeb/CCNet keep-best policy): keeper =
    # max score, ties broken by max id. SEMANTIC — changes the reps
    # table, so it participates in the checkpoint fingerprint.
    rep_score_col: str | None = None
    # normalization (R3)
    lowercase: bool = True
    collapse_ws: bool = True
    strip_punct: bool = False
    # Unicode NFC (the one pandas UDF in normalize.norm_text_col, the
    # normalizer every channel shares); off for oracle parity
    nfc: bool = False
    # ops
    max_turns_per_conv: int = 10_000  # spill guard, logged when hit (§4.2.5)
    # scale-proportional physical regime (VERDICT r4 item 1): at/above
    # this doc count the pipeline runs the eager regime — AQE on at the
    # ambient shuffle width, the channel-aware split verify, and the extra
    # eager barriers (hsip/barrier.py) on the bucket join-backs and
    # pruned hydration tables that stop AQE's concurrent query-stage
    # futures from rebuilding a shared subtree N times, a 2x win at 2.76M
    # turns (BENCH/BASELINE.md r4). Below it the latency regime runs: AQE
    # off, a corpus-derived shuffle width, the fused verify and lazy
    # caches in place of those extra barriers, whose jobs cost more than
    # the rebuilt subtrees on small corpora (same-session A/B r5: +26% on
    # the 57k bench). The reused stages (base, features, fingerprints,
    # channel outputs, results) pass the barrier in both regimes.
    # Calibrated between the measured regimes: the 57k-turn/2.8k-conv and
    # 5k-doc bench corpora sit in the latency regime; the 554k-turn/27k-
    # conv and 2.76M-turn/136k-conv scaling ladders sit eager.
    # NON-SEMANTIC — identical output either way (pinned by
    # tests/test_pipeline_e2e.py just below and just above the threshold).
    # Read once per run, by hsip/barrier.py Regime.fit.
    eager_barrier_min_docs: int = 25_000
    # reliable barriers: when set, every eager barrier of an EPHEMERAL run
    # (hsip/barrier.py: base, features, bucket tables, channel outputs,
    # results) and every connected-components round (both modes) also
    # writes a reliable checkpoint to this fault-tolerant dir, so an
    # executor loss recovers from it; releasing a barrier deletes its
    # files. Unset, ephemeral barriers and CC rounds hold executor-local
    # blocks only (fast, but an executor lost mid-run fails the run —
    # lineage is truncated). Warehouse runs keep cache+count barriers
    # between their parquet stages whether or not this is set.
    # SURVEY §4.2.3, DEPLOYMENT.md §3.
    # NON-SEMANTIC — excluded from the fingerprint (same clusters either way)
    cc_checkpoint_dir: str | None = None

    @property
    def substr_gram(self) -> int:
        """Char-gram size for winnowed fingerprints: k_sa = L - w + 1 so any
        common substring of length >= L is guaranteed to share a selected
        fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD 2003, thm 1)."""
        return self.min_substr_len - self.winnow_window + 1

    def __post_init__(self):
        if self.simhash_bits not in (64, 128):
            raise ValueError(
                "simhash_bits: 64 (one-long kernel) and 128 (two-lane "
                "array<bigint> kernel — the 10^9+-distinct-docs config, "
                "80-bit probe keys at B=8,d=3) are implemented; see the "
                "field comment for the key-entropy sizing rule"
            )
        if self.hamming_blocks <= self.hamming_d:
            raise ValueError("hamming_blocks must exceed hamming_d")
        if self.simhash_bits % self.hamming_blocks != 0:
            raise ValueError(
                "hamming_blocks must divide simhash_bits (per-block bit "
                "slices must be uniform)"
            )
        width = self.simhash_bits // self.hamming_blocks
        if width >= 64 or 64 % width != 0:
            raise ValueError(
                f"block width {width} unsupported: blocks are extracted "
                "lane-locally (shiftright on one 64-bit lane), so the "
                "width must divide 64 and be < 64"
            )
        if self.lsh_bands < 1 or self.lsh_rows < 1:
            # lsh_rows=0 slips past the product check below but builds
            # every band from an EMPTY signature slice — the same
            # one-global-bucket failure, silently; lsh_bands=0 is a
            # silent zero-candidate recall collapse
            raise ValueError(
                f"lsh_bands = {self.lsh_bands}, lsh_rows = {self.lsh_rows}: "
                "both must be >= 1 (0 rows hashes an empty slice per "
                "band; 0 bands emits no candidates)"
            )
        if self.lsh_bands * self.lsh_rows > self.num_perm:
            # band i slices sig[i*rows : (i+1)*rows]; past num_perm the
            # slice is EMPTY, so xxhash64(i, []) is a constant per band
            # and every doc lands in one global bucket for those bands —
            # n spurious star-pairs per band, silently
            raise ValueError(
                f"lsh_bands*lsh_rows = {self.lsh_bands * self.lsh_rows} "
                f"exceeds num_perm = {self.num_perm}: bands past the "
                "signature would bucket every doc together"
            )
        if self.winnow_window < 1:
            raise ValueError(
                f"winnow_window = {self.winnow_window}: must be >= 1 "
                "(the winnowing selector picks the min fingerprint per "
                "window; an empty window selects nothing)"
            )
        if self.substr_gram < 1:
            raise ValueError(
                f"winnow_window = {self.winnow_window} exceeds "
                f"min_substr_len = {self.min_substr_len}: the winnowing "
                "guarantee needs k_sa + w - 1 <= L, i.e. "
                "winnow_window <= min_substr_len (Schleimer et al. thm 1)"
            )

    _NON_SEMANTIC = frozenset({"cc_checkpoint_dir", "eager_barrier_min_docs"})

    def fingerprint(self) -> str:
        sem = {
            k: v for k, v in asdict(self).items() if k not in self._NON_SEMANTIC
        }
        blob = json.dumps(sem, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT = DedupConfig()
