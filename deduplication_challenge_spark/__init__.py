"""deduplication_challenge_spark — a PySpark-native near-duplicate detection,
clustering and consolidation engine.

From-scratch reimplementation (NOT a port) of the query/data-processing
capabilities of the reference repo ``Iradu15/deduplication-challenge`` (a
single-process pandas product-dedup pipeline, see ``/root/reference/src``),
re-expressed as idiomatic Spark DataFrame transforms + vectorized Arrow UDFs,
extended to web-scale near-dup detection per the north rule:

- full-row perfect-duplicate probe            -> operators.exact
- k-shingle MinHash + LSH banding             -> operators.signatures / operators.lsh
- 64-bit SimHash + Hamming refinement         -> operators.simhash
- exact-substring pass (global anchor join)   -> operators.suffixarray
- Jaccard verification of candidate pairs     -> operators.verify
- connected components (Arrow union-find      -> operators.connected_components
  contraction; large/small-star rounds only
  when contraction stalls)
- per-cluster canonical-record consolidation  -> operators.consolidate
  (the reference's merge-policy contract: uniqueness + max information,
  /root/reference/README.md:3-4, /root/reference/src/main.py:21-73)
- checkpoint/resume pipeline with lineage     -> plans.pipeline
"""

from deduplication_challenge_spark.config import DedupConfig

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
