"""Pinned pipeline configuration.

The dup-pair-recall metric in BASELINE.json is defined *at a fixed
shingle/signature/band config*, so every knob lives in one frozen dataclass
whose hash is stamped into each stage manifest (plans/pipeline.py) — a config
change invalidates downstream checkpoints.

Analog in the reference: the merge-policy lists in
/root/reference/src/settings.py:49-86 are its only "config"; here the config
additionally pins the near-dup front end the north rule adds.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- text / shingling -------------------------------------------------
    shingle_k: int = 3                 # word shingles of k tokens
    # --- MinHash ----------------------------------------------------------
    num_perm: int = 128                # signature length = bands * rows
    bands: int = 16
    rows: int = 8
    minhash_prime: int = 2147483647    # Mersenne 2^31-1; see functions/hashing.py
    seed: int = 42
    # --- verification -----------------------------------------------------
    jaccard_threshold: float = 0.70    # estimated-Jaccard acceptance for LSH pairs
    # --- SimHash ----------------------------------------------------------
    hamming_k: int = 3                 # accept pairs with Hamming distance <= k
    simhash_window: int = 4            # permute-and-sort neighbor window (Manku WWW'07)
    simhash_hot_threshold: int = 100_000  # (chunk_idx, chunk_val) groups larger than
                                       # this are sub-split so no single window task
                                       # owns a pathologically hot chunk value; part
                                       # of the pinned pair rule (oracle mirrors it)
    simhash_split_bits: int = 4        # hot groups split into 2^bits ranges of the
                                       # (sign-flipped) simhash sort order
    # --- suffix-array substring pass ---------------------------------------
    substr_min_len: int = 48           # chars of shared substring to count as dup
    substr_winnow_window: int = 64     # anchor-sampling window W: detection
                                       # guaranteed for shared runs >=
                                       # min_len+W-1 chars (111 at defaults);
                                       # 0 = every position.  W is the anchor-
                                       # shuffle knob: W=64 ships ~2.9% of
                                       # corpus positions (measured, 10k gate)
                                       # vs ~11.3% at W=16, with ZERO cluster-
                                       # recall delta on the 10k planted gate
                                       # (canonical identical, planted recall
                                       # 1.0 at W in {16,64,128} — lost
                                       # substring edges are redundant with
                                       # LSH/SimHash edges)
    substr_verify: bool = False        # char-level verification of hash-equal
                                       # windows (2^-64 collision odds
                                       # without; the anchor pass ships the
                                       # min_len-char window through the
                                       # anchor shuffle)
    # --- consolidation ----------------------------------------------------
    min_group_size: int = 2            # singletons pass through untouched
                                       # (/root/reference/src/main.py:93-95)
    # --- fault tolerance ----------------------------------------------------
    checkpoint_mode: str = "local"     # 'local': localCheckpoint (executor-
                                       # local, fastest, lost on executor
                                       # failure — right for local[*]);
                                       # 'reliable': setCheckpointDir +
                                       # checkpoint() for the CC fixpoint
                                       # loop, the global-anchor
                                       # materialization and the
                                       # candidates stage's LSH bucket and
                                       # SimHash chunk-count aggregates
                                       # (plus the incremental delta's
                                       # pins), so an executor
                                       # loss recovers instead of killing
                                       # the query (the cluster-scale mode;
                                       # plans/checkpointing.py).  Identical
                                       # output either way — recovery knob,
                                       # not semantics.
    # --- url dedup (optional pre-stage) -------------------------------------
    url_dedup: bool = False            # when True, a 'urldedup' stage BEFORE
                                       # ingest keeps the first-seen page per
                                       # canonical url (operators/urlnorm.py)
                                       # so repeat crawls never pay html
                                       # extraction; off by default (the
                                       # pinned parity protocols assume every
                                       # input row reaches ingest)
    # --- sub-document dedup (optional pre-stage) ----------------------------
    line_dedup_min_docs: int | None = None  # when set (>= 2), a 'linededup'
                                       # stage after ingest removes lines
                                       # (paragraphs) appearing in >= this
                                       # many DISTINCT docs before signatures
                                       # are computed (CCNet boilerplate-line
                                       # removal; operators/linededup.py).
                                       # None = off (default: the pinned
                                       # oracle-parity and scaling protocols
                                       # run on unmodified text)

    def __post_init__(self) -> None:
        if self.bands * self.rows != self.num_perm:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows}) must equal num_perm ({self.num_perm})"
            )
        # JVM shifts are mod-64: split_bits=0 would make the Spark salt a
        # no-op-shift of the full hash (shattering hot groups) while the
        # Python oracle computes >> 64 == 0 (no split) — forbid the whole
        # range where engine and pinned oracle could disagree
        if not (1 <= self.simhash_split_bits <= 63):
            raise ValueError(
                f"simhash_split_bits must be in 1..63, got {self.simhash_split_bits}"
            )
        if self.checkpoint_mode not in ("local", "reliable"):
            raise ValueError(
                f"checkpoint_mode must be 'local' or 'reliable', got {self.checkpoint_mode!r}"
            )
        # minhash values live in [0, p]; the signatures table stores them as
        # array<int>, so a larger prime would wrap there and corrupt
        # jaccard_est
        if self.minhash_prime > 2**31 - 1:
            raise ValueError(
                f"minhash_prime must be <= 2**31 - 1, got {self.minhash_prime}"
            )
        if self.line_dedup_min_docs is not None and self.line_dedup_min_docs < 2:
            raise ValueError(
                f"line_dedup_min_docs must be None or >= 2, got {self.line_dedup_min_docs}"
            )
        # the simhash is 64 bits (operators/simhash.SIMHASH_BITS), split
        # into hamming_k+1 equal pigeonhole chunks
        if 64 % (self.hamming_k + 1) != 0:
            raise ValueError(
                f"hamming_k+1 ({self.hamming_k + 1}) must divide the 64-bit "
                f"simhash into equal chunks"
            )

    def config_hash(self) -> str:
        """Stable hash stamped into stage manifests for resume validation.

        ``checkpoint_mode`` is EXCLUDED: it is a recovery knob with pinned
        identical output, and hashing it would silently invalidate every
        stage manifest when an operator resumes a crashed reliable-mode run
        under the default mode (or retries a local run reliably) — hours of
        completed stages rebuilt for a setting that cannot change a row."""
        d = asdict(self)
        d.pop("checkpoint_mode")
        payload = json.dumps(d, sort_keys=True).encode("utf-8")
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
