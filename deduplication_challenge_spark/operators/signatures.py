"""Signature stage: one Arrow pass computing MinHash, LSH band keys and
SimHash per document.

All heavy math is numpy inside ``mapInPandas`` (Arrow-batched, zero per-row
Python across the JVM boundary — the input_hint's "vectorized pandas/Arrow
UDFs only" contract). Shingling happens ONCE per doc and feeds all three
signature families; at 100 TB re-tokenizing per signature type would triple
the dominant CPU cost.

This module decides the stored signature format: ``minhash`` is
``array<int>``. Its values live in [0, p] with p <= 2^31 - 1 = int32 max
(``DedupConfig`` rejects a larger prime), so the narrowing is lossless and
every verify join (pipeline, incremental cross and new-new) reads the
stored column without a cast. Band keys are hashed from the int64 kernel
signature, as the oracle hashes them.

The reference has no signatures (it groups on exact product_identifier,
/root/reference/src/main.py:85-89); this stage is the north-rule extension
that generalizes "same key" to "similar content".
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from deduplication_challenge_spark.config import DedupConfig
from deduplication_challenge_spark.functions import hashing as H
from deduplication_challenge_spark.functions.textnorm import shingles, tokenize

SIGNATURE_SCHEMA = (
    "doc_id long, n_shingles long, minhash array<int>, bands array<long>, "
    "simhash long"
)


def doc_signatures_pdf(
    pdf: pd.DataFrame, cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> pd.DataFrame:
    """Signature computation for one Arrow batch; the pure-Python oracle
    (oracle.run_oracle) calls it once over its whole corpus."""
    n = len(pdf)
    out = {
        "doc_id": pdf["doc_id"].to_numpy(),
        "n_shingles": np.zeros(n, dtype=np.int64),
        "minhash": [None] * n,
        "bands": [None] * n,
        "simhash": np.zeros(n, dtype=np.int64),
    }
    for i, text in enumerate(pdf["text"].tolist()):
        text = text or ""
        sh = shingles(text, cfg.shingle_k)
        sh_hashes = H.hash64_batch(sh, seed=cfg.seed)
        out["n_shingles"][i] = len(sh)
        sig = H.minhash_signature(sh_hashes, a, b, cfg.minhash_prime)
        out["minhash"][i] = sig.astype(np.int32)
        out["bands"][i] = H.band_hashes(sig, cfg.bands, cfg.rows, cfg.seed)
        tok_hashes = H.hash64_batch(tokenize(text), seed=cfg.seed)
        out["simhash"][i] = H.simhash64(tok_hashes)
    return pd.DataFrame(out)


def compute_signatures(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(doc_id, text, ...) -> signatures table (SIGNATURE_SCHEMA)."""
    a, b = H.minhash_params(cfg.num_perm, cfg.seed, cfg.minhash_prime)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield doc_signatures_pdf(pdf, cfg, a, b)

    # project early: signature stage needs only (doc_id, text) — lets the
    # upstream scan prune url/warc_ts/lang columns entirely.
    return docs.select("doc_id", "text").mapInPandas(gen, schema=SIGNATURE_SCHEMA)
