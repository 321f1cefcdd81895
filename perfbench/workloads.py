"""The benchmark's workloads: seeded inputs, truth pairs, pinned labels.

Each workload is a closed loop of one client: it submits one pipeline run
at a time through the public entry points (``hsip.pipeline.run_transcripts``
/ ``run_documents``) and waits for it. ``prepare`` builds the inputs from
the seed on the driver (pandas, not timed) with the duplicate pairs a run
must recover, ``load`` is the timed input
read + cache, ``run`` is one timed pipeline run.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass
from itertools import combinations

import numpy as np
import pandas as pd

# Label checksums at seed 42: (rows, sum(xxhash64(id, cluster_id)) as
# decimal(38,0)). ``documents-ckpt`` content does not depend on the seed
# (the seed only permutes row order), so its pin holds at every seed.
PINS = {
    "transcripts-eager": {42: (1553, "-76398569587777967344")},
    "documents-ckpt": {None: (5000, "-22150474606672937456")},
}

RECALL_GATE = 0.99


def truth_pairs(ids, clusters) -> set[tuple[str, str]]:
    """Unordered within-cluster pairs (a < b) of a labelling."""
    groups: dict[str, list[str]] = {}
    for i, c in zip(ids, clusters):
        groups.setdefault(c, []).append(i)
    return {
        pair
        for members in groups.values() if len(members) > 1
        for pair in combinations(sorted(members), 2)
    }


@dataclass
class Prepared:
    path: str                   # parquet input written under the work dir
    truth: set[tuple[str, str]]  # duplicate pairs a run must recover
    pin: tuple[int, str] | None  # pinned (rows, checksum) for this seed


class TranscriptsEager:
    """``run_transcripts`` on ``gen_transcripts(seed, 1000)``: 29.7k turns,
    1.55k conversations, run in the eager (scale) regime by setting the
    non-semantic ``eager_barrier_min_docs`` to 0."""

    name = "transcripts-eager"
    n_base = 1000

    def prepare(self, seed: int, work: str) -> Prepared:
        from hsip.fixtures.gen import gen_transcripts

        gen = gen_transcripts(seed=seed, n_base=self.n_base)
        pdf = gen.transcripts
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = os.path.join(work, "turns.parquet")
        pdf.to_parquet(path, index=False)
        # hotband conversations share boilerplate only: not duplicates
        t = gen.truth[gen.truth["dup_kind"] != "hotband"]
        return Prepared(
            path=path,
            truth=truth_pairs(t["conv_id"], t["gt_cluster"]),
            pin=PINS[self.name].get(seed),
        )

    def load(self, spark, prepared: Prepared):
        from hsip import schemas

        df = spark.read.schema(schemas.TRANSCRIPTS).parquet(prepared.path).cache()
        df.count()
        return df

    def run(self, spark, df, work: str):
        from hsip.config import DedupConfig
        from hsip.pipeline import run_transcripts

        return run_transcripts(spark, df, DedupConfig(eager_barrier_min_docs=0))

    def reset(self, work: str) -> None:
        pass


def jaccard_pairs(ids, texts, threshold: float = 0.7, k: int = 5) -> set[tuple[str, str]]:
    """Unordered pairs (a < b) whose word k-shingle sets have Jaccard >=
    ``threshold``: the pipeline's own similarity, defined as in the DuckDB
    oracle of ``tests/test_e2e_oracle.py`` (lowercased, whitespace-split,
    docs shorter than k tokens are one shingle). Exact: every pair with
    Jaccard > 0 shares a shingle, so an inverted index enumerates them all."""
    sets = []
    for text in texts:
        toks = text.lower().split()
        if len(toks) >= k:
            sets.append({" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)})
        else:
            sets.append({" ".join(toks)} if toks else set())
    postings: dict[str, list[int]] = {}
    for i, shingles in enumerate(sets):
        for sh in shingles:
            postings.setdefault(sh, []).append(i)
    shared = Counter(
        pair for docs in postings.values() if len(docs) > 1
        for pair in combinations(docs, 2)
    )
    ids = list(ids)
    return {
        tuple(sorted((ids[a], ids[b])))
        for (a, b), n in shared.items()
        if n / (len(sets[a]) + len(sets[b]) - n) >= threshold
    }


class DocumentsCkpt:
    """``run_documents`` on ``data/documents.parquet`` (a byte copy of the
    sf0.1 ``documents`` test fixture: 5,000 docs of ~300 chars) with every
    stage written through the Catalog/Checkpointer (fresh warehouse per
    run, ``resume=False``). The seed permutes row order only. The truth
    is every pair at Jaccard >= the run's threshold (``jaccard_pairs``)."""

    name = "documents-ckpt"
    source = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "documents.parquet")
    threshold = 0.7

    def prepare(self, seed: int, work: str) -> Prepared:
        docs = pd.read_parquet(self.source, columns=["doc_id", "text"])
        order = np.random.default_rng(seed).permutation(len(docs))
        docs = docs.iloc[order].reset_index(drop=True)
        path = os.path.join(work, "documents.parquet")
        docs.to_parquet(path, index=False)
        return Prepared(
            path=path,
            truth=jaccard_pairs(docs["doc_id"].astype(str), docs["text"], self.threshold),
            pin=PINS[self.name][None],
        )

    def load(self, spark, prepared: Prepared):
        df = spark.read.parquet(prepared.path).cache()
        df.count()
        return df

    def run(self, spark, df, work: str):
        from hsip.config import DedupConfig
        from hsip.pipeline import run_documents

        return run_documents(
            spark, df, "doc_id", "text", DedupConfig(jaccard_threshold=self.threshold),
            warehouse=os.path.join(work, "warehouse"), resume=False,
        )

    def reset(self, work: str) -> None:
        shutil.rmtree(os.path.join(work, "warehouse"), ignore_errors=True)


WORKLOADS = {w.name: w for w in (TranscriptsEager(), DocumentsCkpt())}
