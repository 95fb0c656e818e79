"""DedupConfig validation: knobs where the Spark path and the pinned
pure-Python oracle could silently diverge must be rejected up front."""

import pytest

from deduplication_challenge_spark.config import DedupConfig


def test_bands_rows_must_multiply_to_num_perm():
    with pytest.raises(ValueError):
        DedupConfig(bands=3, rows=5, num_perm=128)


@pytest.mark.parametrize("bits", [0, -1, 64, 65])
def test_simhash_split_bits_range(bits):
    """JVM shifts are mod-64: split_bits=0 would make the salt a full-hash
    no-op shift on the Spark side while the oracle computes >>64 == 0 —
    the whole disagreement range is rejected (ADVICE r2)."""
    with pytest.raises(ValueError):
        DedupConfig(simhash_split_bits=bits)


def test_valid_range_accepted():
    for bits in (1, 4, 63):
        assert DedupConfig(simhash_split_bits=bits).simhash_split_bits == bits


def test_config_hash_changes_with_knobs():
    assert DedupConfig().config_hash() != DedupConfig(substr_verify=True).config_hash()


def test_checkpoint_mode_excluded_from_config_hash():
    """Review finding: checkpoint_mode is a recovery knob with pinned
    identical output — hashing it would invalidate every stage manifest
    when a crashed reliable run resumes under the default mode."""
    assert (
        DedupConfig().config_hash()
        == DedupConfig(checkpoint_mode="reliable").config_hash()
    )
    import pytest

    with pytest.raises(ValueError, match="checkpoint_mode"):
        DedupConfig(checkpoint_mode="bogus")


def test_line_dedup_min_docs_validated():
    from dataclasses import replace

    import pytest

    from deduplication_challenge_spark.config import DedupConfig

    assert DedupConfig().line_dedup_min_docs is None
    replace(DedupConfig(), line_dedup_min_docs=2)  # valid
    with pytest.raises(ValueError):
        replace(DedupConfig(), line_dedup_min_docs=1)


def test_minhash_prime_bounded_by_int32():
    """The signatures table stores minhash values as array<int>; a larger
    prime would wrap there and corrupt jaccard_est."""
    with pytest.raises(ValueError, match="minhash_prime"):
        DedupConfig(minhash_prime=2**31 + 11)
    assert DedupConfig(minhash_prime=2**31 - 1).minhash_prime == 2**31 - 1


def test_hamming_chunks_must_divide_simhash():
    """The 64-bit simhash splits into hamming_k+1 equal pigeonhole chunks."""
    assert DedupConfig(hamming_k=7).hamming_k == 7
    with pytest.raises(ValueError, match="hamming_k"):
        DedupConfig(hamming_k=4)
