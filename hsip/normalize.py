"""R3 — text normalization. Pure-SQL (codegen'd, JVM-side).

``norm_text_col`` is the one normalizer: featurize (MinHash/SimHash),
the substring fingerprints, span verify, the SQL shingle path and the
audit truth all read text through it, so every channel sees the same
normalized document.

The original ``text`` column is never mutated: the per-turn/byte-exact
text-equality invariant (/root/repo/BASELINE.json:15) requires the raw
text to survive the pipeline untouched. Normalization produces a new
column used only for shingling/fingerprinting — same stage split as the
reference's normalize step (SURVEY.md §0.1 stage 1).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .config import DedupConfig


@pandas_udf(T.StringType())
def _nfc(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    # Unicode NFC has no Spark built-in; pandas str.normalize is C-backed
    for s in it:
        yield s.str.normalize("NFC")


def norm_text_col(col: str | Column, cfg: DedupConfig) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if cfg.nfc:
        c = _nfc(c)
    if cfg.lowercase:
        c = F.lower(c)
    if cfg.strip_punct:
        # (?U) = UNICODE_CHARACTER_CLASS: Java \w is ASCII-only by default,
        # which would blank out all non-Latin text (ADVICE.md r1)
        c = F.regexp_replace(c, r"(?U)[^\w\s]", " ")
    if cfg.collapse_ws:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def tokens_col(norm_col: Column) -> Column:
    """Whitespace tokens of an already-normalized string; empty text -> []."""
    return F.filter(F.split(norm_col, " "), lambda t: t != F.lit(""))
