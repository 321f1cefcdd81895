"""hsip — PySpark-native near-duplicate detection & clustering engine.

A ground-up re-expression of the capabilities of the
``caocscar/hsip-deduplication`` record-dedup pipeline (normalize → block →
match → cluster → report) for web-scale multi-turn transcript corpora.
The reference snapshot at /root/reference is empty (SURVEY.md §0); the
authoritative spec is /root/repo/BASELINE.json (north_rule, input_hint).

Architecture is Spark-first: pyspark.sql DataFrame + pure-SQL expressions
wherever possible; vectorized pandas/Arrow UDFs (never per-row Python) only
for the numpy kernels SQL cannot express (MinHash permutations, SimHash
bit-votes, suffix-array construction, winnowed fingerprints).
"""

__version__ = "0.1.0"
