"""Operator-coverage queries + DuckDB oracle SQL for the driver contract.

Each entry maps to rows of the SURVEY.md §2 inventory (noted per query).
Column-aliasing rule: every computed column is aliased IDENTICALLY in the
Spark plan and the oracle SQL (the driver hashes values after sorting
columns by name). Floats are rounded explicitly where summation order could
differ between engines.

Queries without an oracle entry (signatures, LSH clustering, CC,
consolidation) are non-SQL-expressible; the driver records a rows-only
check for them (documented in __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: fact tables whose scans get the adaptive input spread: the driver ships
#: each as ONE parquet row group (unsplittable -> a single scan task), which
#: serializes every downstream narrow stage (gram explodes, regexp
#: projections, Arrow kernels) onto one core.  Dim tables stay as-is — they
#: feed broadcast sides where an extra exchange is pure waste.
_SPREAD_TABLES = {"documents", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in _SPREAD_TABLES:
        from deduplication_challenge_spark.sources.pages import spread_input

        df = spread_input(df)
    return df


# ---------------------------------------------------------------------------
# dedup family over documents  (SURVEY §2.4 A12/A13; north-rule operators)
# ---------------------------------------------------------------------------

def q_prefix40_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-duplicate groups — hash-groupBy on the md5 of a 40-char text
    prefix (A12 analog, S1 scan).  Named for what it computes: docs sharing a
    prefix, a non-vacuous probe on driver data (full texts are all distinct
    at sf0.01; prefixes collide).  TRUE exact-text grouping is covered by
    exact_dedup_canonical / perfect_duplicate_count."""
    return (
        _t(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .groupBy(F.md5(F.substring("text", 1, 40)).alias("text_hash"))
        .agg(F.count("*").alias("group_size"), F.min("doc_id").alias("canonical_doc_id"))
        .where(F.col("group_size") >= 2)
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate (A13 count-distinct probes)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text").alias("n_distinct_texts"),
        )
    )


def q_exact_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical row per text group: min doc_id survives, group key kept
    (A5 min-id survivor + A12 group consolidation)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_members"),
        F.min("lang").alias("lang_min"),
    ).select("doc_id", "n_members", "lang_min", F.md5("text").alias("text_hash"))


def q_group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of duplicate-group sizes (helper-style exploration,
    /root/reference/src/helper.py:113-132 analog)."""
    d = _t(spark, sf_dir, "documents")
    sizes = d.groupBy("text").agg(F.count("*").alias("group_size"))
    return sizes.groupBy("group_size").agg(F.count("*").alias("n_groups"))


#: Document-frequency cap for the 3-gram self-join: a gram appearing in more
#: than this many documents is dropped from BOTH the intersection and the
#: per-doc gram counts (so Jaccard is computed over the filtered gram sets —
#: the standard prefix-filtering approximation).  Without it the gram
#: self-join is quadratic in per-gram df: one boilerplate gram shared by 10k
#: docs yields ~5*10^7 joined rows.  With the cap, join fan-out per gram is
#: bounded by DF_CAP^2/2.  NOT silent: `ngram_df_cap_stats` reports how many
#: grams/occurrences the cap drops on any given input.
NGRAM_DF_CAP = 64


def _word3grams(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, gram) rows of word-3-grams over lowered text.

    Per-doc dedup is ROW-LOCAL (array_distinct before the explode): the
    former explode-then-``.distinct()`` paid a full shuffle of every gram
    occurrence just to drop within-doc repeats that a codegen'd array op
    removes in place — the output rows are identical."""
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"[ \t\n\x0B\f\r]+"), lambda x: x != "").alias("toks"),
    ).where(F.size("toks") >= 3)
    return toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 3),
                    lambda i: F.concat_ws(
                        "\x1f",
                        F.element_at(F.col("toks"), i + 1),
                        F.element_at(F.col("toks"), i + 2),
                        F.element_at(F.col("toks"), i + 3),
                    ),
                )
            )
        ).alias("gram"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs >= 0.8 (SQL-expressible variant of
    the MinHash path — north-rule dedup operator with exact Jaccard over
    df-capped gram sets; see NGRAM_DF_CAP)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the gram table feeds FOUR consumers (df counts, anti-join, per-doc
    # sizes, self-join both sides): a lazy local checkpoint materializes the
    # tokenize->explode->distinct subtree ONCE instead of re-executing it
    # per branch — at sf0.1 that subtree dominated the query's runtime
    grams = _word3grams(d).localCheckpoint(eager=False)
    # df-cap: drop grams hotter than NGRAM_DF_CAP from both sides of the
    # Jaccard (numerator AND denominator) so the self-join stays bounded.
    # Hot grams are FEW by construction, so a broadcast anti-join against
    # them is far cheaper than an equi-join with the (huge) rare set.
    hot = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > NGRAM_DF_CAP)
        .select("gram")
    )
    grams = grams.join(F.broadcast(hot), "gram", "left_anti").localCheckpoint(eager=False)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = grams.withColumnRenamed("doc_id", "doc_id_a")
    b = grams.withColumnRenamed("doc_id", "doc_id_b")
    inter = (
        a.join(b, "gram")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= 0.8)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def q_perfect_duplicate_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row perfect-duplicate probe (reference helper.py:113-132 analog):
    strict = duplicates over all content columns (text, lang, source,
    n_chars); normalized = duplicates over a 40-char text prefix so the probe
    is non-vacuous on driver data (full rows are all distinct at sf0.01)."""
    from .operators.exact import perfect_duplicate_count

    d = _t(spark, sf_dir, "documents")
    strict = perfect_duplicate_count(d.select("text", "lang", "source", "n_chars"))
    norm = perfect_duplicate_count(
        d.select(F.substring("text", 1, 40).alias("text_key"))
    ).withColumnRenamed("n_perfect_duplicates", "n_prefix40_duplicates")
    return strict.crossJoin(norm)


def q_ngram_df_cap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps companion to q_ngram_jaccard_pairs: how many distinct
    grams and (doc_id, gram) occurrences NGRAM_DF_CAP drops on this input."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    df_counts = _word3grams(d).groupBy("gram").agg(F.count("*").alias("df"))
    return df_counts.agg(
        F.count("*").alias("n_grams_total"),
        F.sum(F.when(F.col("df") > NGRAM_DF_CAP, 1).otherwise(0)).alias("n_grams_dropped"),
        F.sum(F.when(F.col("df") > NGRAM_DF_CAP, F.col("df")).otherwise(0)).alias(
            "n_occurrences_dropped"
        ),
    )


def q_same_text_different_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploration query shape of the reference's
    same_field1_different_field2 (/root/reference/src/helper.py:62-102):
    groups whose members disagree on a second field."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.count("*").alias("n_docs"),
        )
        .where(F.col("n_langs") >= 2)
    )


def q_consistent_fields_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 consistent-fields intersection: is a field constant within every
    source group? Per-group countDistinct==1 flags -> global bool_and
    (/root/reference/src/helper.py:34-60)."""
    d = _t(spark, sf_dir, "documents")
    per_group = d.groupBy("source").agg(
        (F.countDistinct("lang") <= 1).alias("lang_const"),
        (F.countDistinct("n_chars") <= 1).alias("n_chars_const"),
    )
    return per_group.agg(
        F.bool_and("lang_const").alias("lang_always_consistent"),
        F.bool_and("n_chars_const").alias("n_chars_always_consistent"),
        F.sum(F.col("lang_const").cast("long")).alias("n_groups_lang_const"),
        F.count("*").alias("n_groups"),
    )


# ---------------------------------------------------------------------------
# text analysis (north-rule training-data ops)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + char stats per doc."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"[ \t\n\x0B\f\r]+"), lambda x: x != "")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        # count matches directly — regexp_replace built the stripped STRING
        # per row just to take its length
        F.regexp_count("text", F.lit("[0-9]")).cast("int").alias("n_digit_chars"),
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/alpha/digit/space ratios (deterministic
    integer counts + rounded ratios)."""
    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    n = F.length("text")
    # count matches directly instead of length(regexp_replace(...)) — the
    # replace form materialized a stripped copy of every document per ratio
    alpha = F.regexp_count("text", F.lit("[a-zA-Z]"))
    digit = F.regexp_count("text", F.lit("[0-9]"))
    space = F.length("text") - F.length(F.replace("text", F.lit(" "), F.lit("")))
    return d.select(
        "doc_id",
        F.round(alpha / n, 4).alias("alpha_ratio"),
        F.round(digit / n, 4).alias("digit_ratio"),
        F.round(space / n, 4).alias("space_ratio"),
        ((alpha / n > 0.6) & (n > 100)).cast("int").alias("passes_quality"),
    )


def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-occurrence scores (SQL-portable
    occurrence counting via length arithmetic)."""
    d = _t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))

    def occ(word: str):
        pat = f" {word} "
        return (F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit("")))) / len(pat)

    en = (occ("the") + occ("and") + occ("of") + occ("to")).cast("long")
    de = (occ("der") + occ("und") + occ("die") + occ("das")).cast("long")
    return d.select(
        "doc_id",
        "lang",
        en.alias("en_score"),
        de.alias("de_score"),
        F.when(en > de, F.lit("en")).when(de > en, F.lit("de")).otherwise(F.lit("unknown")).alias("lang_guess"),
    )


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
        F.max(F.length("text")).alias("max_chars"),
    )


def q_longest_doc_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-by-length per group (A6 lengthiest-value policy as a window —
    O1/O3 sorts/top-k)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.length("text").desc(), F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", "doc_id", F.length("text").alias("n_chars_actual"))
    )


#: a word-3-gram is "boilerplate" when it appears in at least this many
#: distinct documents (CCNet/RefinedWeb-style shared-content removal).  The
#: boilerplate gram SET is small by definition (each member needs MIN_DOCS
#: distinct docs behind it, so |set| <= total_occurrences / MIN_DOCS), which
#: is what makes the broadcast tag-join below safe at corpus scale.
BOILERPLATE_MIN_DOCS = 4


def q_doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals per doc: duplicate
    word fraction, duplicate 2-gram fraction, and top-2-gram fraction
    (Rae et al. 2021 'repetitious text' quality filters).

    Scale shape: every metric is computed ROW-LOCALLY with higher-order
    functions (array_distinct for distinct counts; the mode of the 2-gram
    multiset as the longest run of the sorted gram array via F.aggregate) —
    the whole query is scan -> project with ZERO shuffles and stays inside
    whole-stage codegen."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.lower("text"), r"[ \t\n\x0B\f\r]+"), lambda x: x != "")
    d = d.select("doc_id", toks.alias("t")).where(F.size("t") >= 2)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.concat_ws("\x1f", F.element_at(F.col("t"), i + 1), F.element_at(F.col("t"), i + 2)),
    )
    d = d.select("doc_id", "t", F.array_sort(grams).alias("g"))
    # mode count of the gram multiset = longest equal-run in the sorted
    # array; grams are non-empty so the "" initial state never matches
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
    top2 = F.aggregate(
        "g",
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_words = F.size("t").cast("long")
    n_words_d = F.size(F.array_distinct("t")).cast("long")
    n_2g = F.size("g").cast("long")
    n_2g_d = F.size(F.array_distinct("g")).cast("long")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_words_d.alias("n_distinct_words"),
        n_2g.alias("n_2grams"),
        n_2g_d.alias("n_distinct_2grams"),
        top2.cast("long").alias("top_2gram_count"),
        F.round(F.lit(1.0) - n_words_d / n_words, 6).alias("dup_word_frac"),
        F.round(F.lit(1.0) - n_2g_d / n_2g, 6).alias("dup_2gram_frac"),
        F.round(top2 / n_2g, 6).alias("top_2gram_frac"),
    )


def q_boilerplate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate rate per source: the fraction of word-
    3-gram OCCURRENCES that belong to grams seen in >= BOILERPLATE_MIN_DOCS
    distinct documents (CCNet/RefinedWeb shared-content signal — the
    removal-side companion of the df-cap in q_ngram_jaccard_pairs).

    Scale shape: one aggregate computes per-gram document frequency over
    the DISTINCT (doc_id, gram) projection (map-side combine); the
    boilerplate set is broadcast back onto the occurrence stream as a
    left-semi tag (no shuffle of the occurrences), and the final per-source
    rollup shuffles only |sources| rows after partial aggregation."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = F.filter(F.split(F.lower("text"), r"[ \t\n\x0B\f\r]+"), lambda x: x != "")
    d = d.select("doc_id", "source", toks.alias("t")).where(F.size("t") >= 3)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 3),
        lambda i: F.concat_ws(
            "\x1f",
            F.element_at(F.col("t"), i + 1),
            F.element_at(F.col("t"), i + 2),
            F.element_at(F.col("t"), i + 3),
        ),
    )
    # checkpoint the per-doc gram ARRAYS (no shuffle, one tokenize+gram
    # build) and derive both consumers from them: the df aggregate dedups
    # within-doc repeats ROW-LOCALLY via array_distinct — the former
    # occurrence-row checkpoint + explode-then-distinct paid a full shuffle
    # of every gram occurrence for the same df counts
    g = d.select("doc_id", "source", grams.alias("g")).localCheckpoint(eager=False)
    occ = g.select("doc_id", "source", F.explode("g").alias("gram"))
    hot = (
        g.select(F.explode(F.array_distinct("g")).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .select("gram")
    )
    tagged = occ.join(
        F.broadcast(hot).withColumn("is_boiler", F.lit(1)), "gram", "left"
    )
    boiler = F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).cast("long")
    total = F.count("*").cast("long")
    return tagged.groupBy("source").agg(
        total.alias("n_gram_occurrences"),
        boiler.alias("n_boilerplate_occurrences"),
        F.round(boiler / total, 6).alias("boilerplate_rate"),
    )


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (operators/quality.gopher_quality):
    word-count / mean-word-length / symbol-ratio / alpha-word-fraction /
    stopword-hit rules with a composite pass flag.  Pure projection — runs
    at scan speed, no shuffle (plan-audited)."""
    from .operators.quality import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_c4_line_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning statistics (operators/quality.c4_line_stats).
    Driver documents are single-line without terminal punctuation, so the
    flags are uniformly 'dropped' here — the multi-line behavior (kept
    lines, kept_chars, brace/lorem flags) is pinned by
    tests/test_quality.py fixtures; this query pins the degenerate case
    differentially against DuckDB."""
    from .operators.quality import c4_line_stats

    return c4_line_stats(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup (operators/linededup.dedup_lines) made driver-
    visible: driver documents are single-line, so 'paragraphs' are derived
    deterministically as 8-word chunks joined by blank lines, then chunks
    appearing in >= 3 distinct docs are removed (CCNet boilerplate-line
    semantics).  Non-vacuous at sf0.01: 17 shared chunks are removed from
    the near-duplicate texts.  The pipeline-facing operator runs on REAL
    newline paragraphs from extract_pages (see tests/test_linededup.py)."""
    from .operators.linededup import dedup_lines

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.lower("text"), r"[ \t\n\x0B\f\r]+"), lambda x: x != "")
    d = d.select("doc_id", toks.alias("t")).where(F.size("t") >= 1)
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size("t") / F.lit(8.0)).cast("int") - 1),
        lambda i: F.array_join(F.slice(F.col("t"), i * 8 + 1, 8), " "),
    )
    derived = d.select("doc_id", F.array_join(chunks, "\n\n").alias("text"))
    out = dedup_lines(derived, min_docs=3, mode="remove")
    return out.select(
        "doc_id",
        F.col("text").alias("deduped_text"),
        "n_lines",
        "n_removed",
    )


def q_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py) driver-visible:
    docs with doc_id < 20 stand in for the eval/benchmark set; every other
    doc sharing a word-4-gram with it is flagged with its matched-gram
    count.  n=4 (not the production 8..13) because the synthetic vocabulary
    is low-entropy — 36 contaminated docs at sf0.01, non-vacuous."""
    from .operators.decontaminate import contamination_flags

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 20).select("text")
    corpus = d.where(F.col("doc_id") >= 20)
    return contamination_flags(corpus, bench, n=4)


def q_hash_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (operators/sampling.py) driver-visible:
    25% of docs selected by the md5-prefix rule, counted per source — the
    SAME rows on any run/cluster/partitioning, and the rule is plain ANSI
    SQL (the oracle replays it verbatim)."""
    from .operators.sampling import sample_by_hash

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    totals = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    picked = (
        sample_by_hash(d, "doc_id", 0.25, salt="s1")
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        totals.join(picked, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.round(F.coalesce("n_sampled", F.lit(0)) / F.col("n_docs"), 6).alias(
                "sample_rate"
            ),
        )
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/redact.py) driver-visible: driver documents
    carry no PII, so deterministic emails/IPs are appended first (doc_id % 7
    -> an email, doc_id % 11 -> an IPv4), then redacted; the query reports
    per-doc counts and the md5 of the redacted text (pins the full
    replacement behavior without shipping 500 long strings)."""
    from .operators.redact import redact_pii

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1")),
        ).otherwise(F.lit("")),
    )
    red = redact_pii(d.withColumn("text", pii_text), kinds=("email", "ipv4"))
    return red.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.md5("text").alias("redacted_md5"),
    )


def q_sequence_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py) driver-visible: documents
    packed into 512-token context windows by the deterministic next-fit
    rule (tokens = whitespace count).  Rows-only by design — greedy
    packing is iterative, not SQL-expressible; the pinned contract lives
    in tests/test_packing.py (pure-Python differential, layout
    independence, fill bound)."""
    from .operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), r"[ \t\n\x0B\f\r]+"), lambda x: x != "")
    d = d.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    return pack_sequences(d, budget=512, n_buckets=16)


def q_url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urlnorm.py) driver-visible: derive a
    deterministically MESSY url per doc (case noise, www., default ports,
    trailing slash, fragments, by doc_id % 4), canonicalize, and return
    both — the DuckDB oracle re-implements the pinned rules in its own
    regex dialect, so a hash match pins rule SEMANTICS cross-engine."""
    from .operators.urlnorm import canonical_url

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    messy = (
        F.when(m == 0, F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"), i))
        .when(m == 1, F.concat(F.lit("HTTP://WWW."), F.upper("source"), F.lit(".EXAMPLE:80/doc/"), i, F.lit("/")))
        .when(m == 2, F.concat(F.lit("https://"), F.col("source"), F.lit(".example:443/doc/"), i, F.lit("#frag")))
        .otherwise(F.concat(F.lit("https://www."), F.col("source"), F.lit(".example/doc/"), i, F.lit("?q=1")))
    )
    return d.select(
        "doc_id",
        messy.alias("messy_url"),
        canonical_url(messy).alias("canonical_url"),
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms via JVM-side higher-order functions (no UDF)."""
    e = _t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select("vec_id", "label", F.round(F.sqrt(sq), 3).alias("l2_norm"))


def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for the first 10 vectors (similarity-search
    baseline; JVM-side zip_with/aggregate dot products)."""
    from deduplication_challenge_spark.operators.similarity import cosine_topk_bruteforce

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries_df = e.where(F.col("vec_id") < 10)
    return cosine_topk_bruteforce(e, queries_df, k=3)


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-3 (rows-only check: bucketing is hash-based,
    not SQL-expressible).  Pinned multiprobe config 5 planes x 12 tables x
    2 probes: 1.00 top-3 recall at a 0.69 candidate fraction on sf0.01
    (0.80 / 0.34 before multiprobe — the low-cosine regime is documented in
    the operator); misses surface via ann_topk_lsh_missed, the candidate
    volume via ann_lsh_candidate_stats."""
    from deduplication_challenge_spark.operators.similarity import cosine_topk_lsh

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries_df = e.where(F.col("vec_id") < 10)
    return cosine_topk_lsh(
        e, queries_df, k=3, n_planes=5, n_tables=12, seed=42, n_probes=2
    )


def q_ann_topk_lsh_missed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k recall audit, driver-visible (rows-only by design): the
    brute-force top-3 neighbors (pinned query ids, ann_topk_bruteforce) that
    the hyperplane-LSH variant did NOT return for the same query.
    spark_rows IS the miss count — top-k recall = 1 - rows/(10 queries x 3)
    — the symmetric twin of embedding_lsh_missed_pairs, so a recall
    regression in the top-k scale path surfaces directly in CORRECTNESS."""
    exact = q_ann_topk_bruteforce(spark, sf_dir)
    approx = q_ann_topk_lsh(spark, sf_dir)
    return exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file coarse quantizer) ANN top-3 — the SECOND ANN
    scale path next to hyperplane LSH (rows-only: k-means assignment is
    not SQL-expressible).  Pinned 64 lists x 24 probes: 0.90 top-3 recall
    at a 0.375 candidate fraction on sf0.01 — about half the LSH path's
    candidate cost (0.69 fraction at recall 1.00); the trade is
    driver-visible via ann_topk_ivf_missed + ann_lsh_candidate_stats'
    'ivf' row.  At scale the list id is a plain equi-join/partition key:
    the inverted lists shard the index with no per-query fan-out beyond
    the probed lists."""
    from deduplication_challenge_spark.operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries_df = e.where(F.col("vec_id") < 10)
    return cosine_topk_ivf(
        e, queries_df, k=3, n_lists=64, n_probes=24, seed=42
    )


def q_ann_topk_ivf_missed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall audit, driver-visible (rows-only by design): brute-force
    top-3 entries the IVF path missed — spark_rows IS the miss count
    (3 at sf0.01 -> recall 0.90), the IVF twin of ann_topk_lsh_missed."""
    exact = q_ann_topk_bruteforce(spark, sf_dir)
    approx = q_ann_topk_ivf(spark, sf_dir)
    return exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
    )


#: Pin for the EXACT (O(n^2) cross-join) pair baseline: only vectors with
#: vec_id below this participate, so the quadratic query stays a small-n
#: reference at any scale factor (at sf0.01 all 500 vectors qualify — the
#: check is unchanged). The scale path is q_embedding_near_dup_pairs_lsh.
EXACT_PAIRS_MAX_ID = 2000


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.35, vec_id_a < vec_id_b)
    — the vector-space analog of the text near-dup path. Exact (brute-force)
    so DuckDB can oracle it, pinned to vec_id < EXACT_PAIRS_MAX_ID; the
    LSH-bucketed scale variant is q_embedding_near_dup_pairs_lsh."""
    from deduplication_challenge_spark.operators.similarity import _dot, _norm

    e = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < EXACT_PAIRS_MAX_ID)
        .select("vec_id", "embedding")
    )
    # norms pre-computed per row (N evaluations), not per pair (N^2/2 x 2)
    a = e.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("emb_a"),
        _norm(F.col("embedding")).alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("emb_b"),
        _norm(F.col("embedding")).alias("norm_b"),
    )
    sim = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.crossJoin(b)
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("cosine", F.round(sim, 6))
        # zero-norm rows: Spark's non-ANSI 0/0 yields NULL (fails >=) while
        # DuckDB yields NaN which compares ABOVE the threshold — both sides
        # guard explicitly so the semantics are pinned, not incidental
        .where((F.col("cosine") >= 0.35) & F.col("cosine").isNotNull() & ~F.isnan("cosine"))
        .select("vec_id_a", "vec_id_b", "cosine")
    )


def q_embedding_near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed scale variant of embedding_near_dup_pairs (rows-only:
    bucketing is hash-based, not SQL-expressible).  Pinned multiprobe
    config 5 planes x 12 tables x 2 probes: 0.993 recall of the exact
    >= 0.35 pairs at sf0.01 (0.978 at 1 probe, 0.86 at 4x12 without
    probes; +21% candidates for the second probe — the fraction stays
    visible via ann_lsh_candidate_stats), gated in tests/test_similarity.py."""
    from deduplication_challenge_spark.operators.similarity import cosine_near_dup_pairs_lsh

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_near_dup_pairs_lsh(
        e, threshold=0.35, n_planes=5, n_tables=12, seed=42, n_probes=2
    )


def q_ann_lsh_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps audit for BOTH multiprobe LSH paths (rows-only: the
    stats derive from hash bucketing): one row per path with the candidate
    count, the brute-force possible count, and the candidate fraction — the
    cost side of the recall the two `_missed` queries keep visible."""
    from deduplication_challenge_spark.operators.similarity import (
        cosine_near_dup_pairs_lsh,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, topk_stats = cosine_topk_lsh(
        e, e.where(F.col("vec_id") < 10), k=3,
        n_planes=5, n_tables=12, seed=42, n_probes=2, with_stats=True,
    )
    _, pair_stats = cosine_near_dup_pairs_lsh(
        e, threshold=0.35, n_planes=5, n_tables=12, seed=42, n_probes=2,
        with_stats=True,
    )
    _, ivf_stats = cosine_topk_ivf(
        e, e.where(F.col("vec_id") < 10), k=3,
        n_lists=64, n_probes=24, seed=42, with_stats=True,
    )
    return (
        topk_stats.select(F.lit("topk").alias("path"), "*")
        .unionByName(pair_stats.select(F.lit("pairs").alias("path"), "*"))
        .unionByName(ivf_stats.select(F.lit("ivf").alias("path"), "*"))
        .orderBy("path")
    )


def q_embedding_lsh_missed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-coverage audit, driver-visible (rows-only by design): the exact
    near-dup pairs (pinned id range, same rule as embedding_near_dup_pairs)
    that the LSH-bucketed scale variant did NOT emit.  spark_rows IS the
    miss count — recall = 1 - rows/|exact| — so a recall regression in the
    scale path shows up directly in CORRECTNESS, not only in pytest gates
    (LSH pairs are exact-cosine-verified, hence always a SUBSET of the exact
    pairs; the anti-join measures the only possible deviation)."""
    exact = q_embedding_near_dup_pairs(spark, sf_dir)
    lsh_pairs = q_embedding_near_dup_pairs_lsh(spark, sf_dir).where(
        (F.col("vec_id_a") < EXACT_PAIRS_MAX_ID) & (F.col("vec_id_b") < EXACT_PAIRS_MAX_ID)
    )
    return exact.join(
        lsh_pairs.select("vec_id_a", "vec_id_b"), ["vec_id_a", "vec_id_b"], "left_anti"
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint cardinality per doc (rows-only): the default
    config's shingle hashes through ``hashing.winnow_fingerprints`` in one
    Arrow pass, without the MinHash/bands/SimHash work of the signatures
    stage."""
    import numpy as np
    import pandas as pd

    from deduplication_challenge_spark.config import DEFAULT_CONFIG as cfg
    from deduplication_challenge_spark.functions import hashing as H
    from deduplication_challenge_spark.functions.textnorm import shingles

    def count(batches):
        for pdf in batches:
            n = [
                H.winnow_fingerprints(
                    H.hash64_batch(shingles(t or "", cfg.shingle_k), seed=cfg.seed)
                ).size
                for t in pdf["text"].tolist()
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_fingerprints": np.asarray(n, dtype=np.int32)}
            )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(count, schema="doc_id long, n_fingerprints int")


def q_label_centroid_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean of the first 4 embedding dims (vector agg, explode-free)."""
    e = _t(spark, sf_dir, "embeddings")
    sel = e.select(
        "label",
        *[F.element_at("embedding", i + 1).cast("double").alias(f"d{i}") for i in range(4)],
    )
    return sel.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        *[F.round(F.avg(f"d{i}"), 4).alias(f"mean_d{i}") for i in range(4)],
    )


# ---------------------------------------------------------------------------
# product-merge engine, driver-visible (SURVEY §2.4 A1-A12 under the oracle)
# ---------------------------------------------------------------------------

def _consolidated(spark: SparkSession, sf_dir: str):
    from deduplication_challenge_spark.operators.product_merge import consolidate_products
    from deduplication_challenge_spark.sources.products import products_from_documents

    return consolidate_products(products_from_documents(_t(spark, sf_dir, "documents")))


def q_consolidated_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL merge-policy engine (operators/product_merge.py — elections
    A1/A2/A4, lengthiest A6, completing A7, provenance-adjacent source_urls,
    J3 url pick, passthrough standardization) run on a deterministic
    products table derived from `documents`, flattened to scalar columns the
    DuckDB oracle reproduces independently from the policy spec."""
    out = _consolidated(spark, sf_dir)
    return out.select(
        "product_identifier",
        "id",
        F.col("group_size").cast("long").alias("group_size"),
        "brand", "unspsc", "root_domain", "product_name", "product_title",
        F.length(F.coalesce("description", F.lit(""))).cast("long").alias("desc_len"),
        F.length(F.coalesce("product_summary", F.lit(""))).cast("long").alias("summary_len"),
        "page_url",
        F.array_join("intended_industries", "|").alias("industries_str"),
        F.array_join("materials", "|").alias("materials_str"),
        F.array_join(F.transform("eco_friendly", lambda x: x.cast("string")), "|").alias("eco_str"),
        F.array_join(
            F.transform("manufacturing_year", lambda x: x.cast("string")), "|"
        ).alias("year_str"),
        F.array_join("source_urls", "|").alias("urls_str"),
    )


def q_consolidated_product_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 keyed min/max intervals from the engine output, merged groups and
    passthrough rows alike (both standardized by the same shuffle-free
    per-row expressions), exploded to oracle-able rows — numeric min/max
    stringified via _pystr_double, literal fallback included."""
    out = _consolidated(spark, sf_dir)
    pr = out.select("product_identifier", "id", F.explode("price").alias("e")).select(
        "product_identifier", "id", F.lit("price").alias("field"),
        F.col("e.currency").alias("key_str"),
        F.col("e.min").alias("min_val"), F.col("e.max").alias("max_val"),
    )
    sz = out.select("product_identifier", "id", F.explode("size").alias("e")).select(
        "product_identifier", "id", F.lit("size").alias("field"),
        F.concat_ws("|", "e.dimension", "e.unit").alias("key_str"),
        F.col("e.min").alias("min_val"), F.col("e.max").alias("max_val"),
    )
    return pr.unionByName(sz)


# ---------------------------------------------------------------------------
# relational coverage over TPC-H-ish tables (SURVEY §2.2/2.3/2.4/2.5)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregate (P filters + A partial/final hash agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k (J broadcast join, O4 top-k)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
             F.count("*").alias("n_orders"))
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.where((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dim join + rollup (J1 hash-lookup joins, U table ops)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"))
    )


def q_supplier_part_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (O1 sort-within-group)."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
    return (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


def q_events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window lag + conditional agg over the events table (stream-shaped
    batch analytics)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    lagged = e.withColumn("prev_ts", F.lag("ts").over(w))
    return (
        lagged.withColumn(
            "new_session",
            (F.col("prev_ts").isNull()
             | (F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                > 1800 * 1_000_000)).cast("int"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("new_session").alias("n_sessions"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
    )


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.min("value"), 3).alias("min_value"),
        F.round(F.max("value"), 3).alias("max_value"),
    )


def q_orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (U3 set difference)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# non-SQL-expressible ops (rows-only checks): signatures + full pipeline
# ---------------------------------------------------------------------------

def q_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle count and SimHash (rows-only): the signature stage's
    ``n_shingles`` and ``simhash`` under the default config, in one Arrow
    pass without its MinHash and band keys."""
    import numpy as np
    import pandas as pd

    from deduplication_challenge_spark.config import DEFAULT_CONFIG as cfg
    from deduplication_challenge_spark.functions import hashing as H
    from deduplication_challenge_spark.functions.textnorm import shingles, tokenize

    def sig(batches):
        for pdf in batches:
            texts = [t or "" for t in pdf["text"].tolist()]
            n = [len(shingles(t, cfg.shingle_k)) for t in texts]
            simhash = [H.simhash64(H.hash64_batch(tokenize(t), seed=cfg.seed)) for t in texts]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_shingles": np.asarray(n, dtype=np.int64),
                "simhash": np.asarray(simhash, dtype=np.int64),
            })

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(sig, schema="doc_id long, n_shingles long, simhash long")


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.operators import lsh, simhash as sh
    from deduplication_challenge_spark.operators.connected_components import connected_components
    from deduplication_challenge_spark.operators.signatures import compute_signatures
    from deduplication_challenge_spark.operators.verify import verify_pairs

    cfg = DedupConfig()
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = compute_signatures(d, cfg).localCheckpoint()
    pairs, _ = lsh.candidate_pairs(lsh.band_table(sigs), cfg)
    ver = verify_pairs(pairs, sigs, cfg).select("src", "dst")
    sim, _ = sh.hamming_pairs(sigs, cfg)
    return connected_components(ver.unionByName(sim).distinct())


def q_canonical_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.plans.pipeline import DedupPipeline
    from deduplication_challenge_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    workdir = tempfile.mkdtemp(prefix="dedup_q_")
    try:
        pipe = DedupPipeline(spark, DedupConfig(), workdir, include_substring=False)
        canonical, _ = pipe.run(pages, input_desc=sf_dir)
        # the result is pinned off the workdir (eager localCheckpoint)
        # BEFORE the stage tables are deleted — repeated driver runs must
        # not accumulate dedup_q_* stage dirs in /tmp
        return canonical.select(
            "cluster_id", "doc_id", "url", "lang", "n_members"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


QUERIES = {
    "prefix40_dup_groups": q_prefix40_dup_groups,
    "dedup_rate_by_source": q_dedup_rate_by_source,
    "exact_dedup_canonical": q_exact_dedup_canonical,
    "group_size_histogram": q_group_size_histogram,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ngram_df_cap_stats": q_ngram_df_cap_stats,
    "perfect_duplicate_count": q_perfect_duplicate_count,
    "same_text_different_lang": q_same_text_different_lang,
    "consistent_fields_by_source": q_consistent_fields_by_source,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "lang_id_heuristic": q_lang_id_heuristic,
    "lang_distribution": q_lang_distribution,
    "longest_doc_per_lang": q_longest_doc_per_lang,
    "doc_repetition_signals": q_doc_repetition_signals,
    "boilerplate_rate_by_source": q_boilerplate_rate_by_source,
    "gopher_quality_flags": q_gopher_quality_flags,
    "c4_line_filter_stats": q_c4_line_filter_stats,
    "paragraph_dedup_docs": q_paragraph_dedup_docs,
    "contamination_flags": q_contamination_flags,
    "hash_sample_by_source": q_hash_sample_by_source,
    "pii_redaction": q_pii_redaction,
    "sequence_packs": q_sequence_packs,
    "url_canonicalization": q_url_canonicalization,
    "embedding_norms": q_embedding_norms,
    "label_centroid_dims": q_label_centroid_dims,
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_lsh_missed": q_ann_topk_lsh_missed,
    "ann_topk_ivf": q_ann_topk_ivf,
    "ann_topk_ivf_missed": q_ann_topk_ivf_missed,
    "ann_lsh_candidate_stats": q_ann_lsh_candidate_stats,
    "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
    "embedding_near_dup_pairs_lsh": q_embedding_near_dup_pairs_lsh,
    "embedding_lsh_missed_pairs": q_embedding_lsh_missed_pairs,
    "consolidated_products": q_consolidated_products,
    "consolidated_product_intervals": q_consolidated_product_intervals,
    "doc_fingerprints": q_doc_fingerprints,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "order_priority_counts": q_order_priority_counts,
    "region_nation_rollup": q_region_nation_rollup,
    "supplier_part_topk": q_supplier_part_topk,
    "events_user_sessions": q_events_user_sessions,
    "event_type_stats": q_event_type_stats,
    "orders_without_lineitems": q_orders_without_lineitems,
    "signatures": q_signatures,
    "near_dup_clusters": q_near_dup_clusters,
    "canonical_records": q_canonical_records,
}


ORACLE_SQL = {
    "prefix40_dup_groups": """
        SELECT md5(substr(text, 1, 40)) AS text_hash,
               count(*) AS group_size,
               min(doc_id) AS canonical_doc_id
        FROM documents
        WHERE length(trim(text)) > 0
        GROUP BY md5(substr(text, 1, 40))
        HAVING count(*) >= 2
    """,
    "dedup_rate_by_source": """
        SELECT source,
               count(*) AS n_docs,
               count(DISTINCT text) AS n_distinct_texts
        FROM documents GROUP BY source
    """,
    "exact_dedup_canonical": """
        SELECT min(doc_id) AS doc_id,
               count(*) AS n_members,
               min(lang) AS lang_min,
               md5(text) AS text_hash
        FROM documents GROUP BY text
    """,
    "group_size_histogram": """
        SELECT group_size, count(*) AS n_groups FROM (
            SELECT count(*) AS group_size FROM documents GROUP BY text
        ) GROUP BY group_size
    """,
    "ngram_jaccard_pairs": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || chr(31) || t[i+1] || chr(31) || t[i+2])) AS gram
            FROM toks
            WHERE len(t) >= 3
        ), rare AS (
            SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 64
        ), kept AS (
            SELECT g.doc_id, g.gram FROM grams g JOIN rare USING (gram)
        ), sizes AS (
            SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_inter
            FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_id_a, doc_id_b,
               round(n_inter * 1.0 / (sa.n_grams + sb.n_grams - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_id_a
        JOIN sizes sb ON sb.doc_id = doc_id_b
        WHERE round(n_inter * 1.0 / (sa.n_grams + sb.n_grams - n_inter), 6) >= 0.8
    """,
    "ngram_df_cap_stats": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS t
            FROM documents
        ), grams AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || chr(31) || t[i+1] || chr(31) || t[i+2])) AS gram
            FROM toks
            WHERE len(t) >= 3
        ), dfc AS (
            SELECT gram, count(*) AS df FROM grams GROUP BY gram
        )
        SELECT count(*) AS n_grams_total,
               CAST(sum(CASE WHEN df > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_grams_dropped,
               CAST(sum(CASE WHEN df > 64 THEN df ELSE 0 END) AS BIGINT) AS n_occurrences_dropped
        FROM dfc
    """,
    "perfect_duplicate_count": """
        WITH strict AS (
            SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_perfect_duplicates
            FROM (SELECT count(*) AS n FROM documents GROUP BY text, lang, source, n_chars)
        ), norm AS (
            SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_prefix40_duplicates
            FROM (SELECT count(*) AS n FROM documents GROUP BY substr(text, 1, 40))
        )
        SELECT n_perfect_duplicates, n_prefix40_duplicates FROM strict, norm
    """,
    "same_text_different_lang": """
        SELECT source, count(DISTINCT lang) AS n_langs, count(*) AS n_docs
        FROM documents GROUP BY source HAVING count(DISTINCT lang) >= 2
    """,
    "consistent_fields_by_source": """
        WITH per_group AS (
            SELECT source,
                   count(DISTINCT lang) <= 1 AS lang_const,
                   count(DISTINCT n_chars) <= 1 AS n_chars_const
            FROM documents GROUP BY source
        )
        SELECT bool_and(lang_const) AS lang_always_consistent,
               bool_and(n_chars_const) AS n_chars_always_consistent,
               CAST(sum(CASE WHEN lang_const THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_lang_const,
               count(*) AS n_groups
        FROM per_group
    """,
    "token_stats": """
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS n_tokens,
               length(text) AS n_chars_actual,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit_chars
        FROM documents
    """,
    "quality_scores": """
        SELECT doc_id,
               round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio,
               round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text), 4) AS digit_ratio,
               round((length(text) - length(replace(text, ' ', ''))) * 1.0 / length(text), 4) AS space_ratio,
               CASE WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text) > 0.6
                         AND length(text) > 100 THEN 1 ELSE 0 END AS passes_quality
        FROM documents WHERE length(text) > 0
    """,
    "lang_id_heuristic": """
        WITH p AS (
            SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded FROM documents
        ), s AS (
            SELECT doc_id, lang,
                   CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
                      + (length(padded) - length(replace(padded, ' and ', ''))) / 5
                      + (length(padded) - length(replace(padded, ' of ', ''))) / 4
                      + (length(padded) - length(replace(padded, ' to ', ''))) / 4 AS BIGINT) AS en_score,
                   CAST((length(padded) - length(replace(padded, ' der ', ''))) / 5
                      + (length(padded) - length(replace(padded, ' und ', ''))) / 5
                      + (length(padded) - length(replace(padded, ' die ', ''))) / 5
                      + (length(padded) - length(replace(padded, ' das ', ''))) / 5 AS BIGINT) AS de_score
            FROM p
        )
        SELECT doc_id, lang, en_score, de_score,
               CASE WHEN en_score > de_score THEN 'en'
                    WHEN de_score > en_score THEN 'de'
                    ELSE 'unknown' END AS lang_guess
        FROM s
    """,
    "lang_distribution": """
        SELECT lang, count(*) AS n_docs,
               round(avg(length(text)), 2) AS avg_chars,
               max(length(text)) AS max_chars
        FROM documents GROUP BY lang
    """,
    "longest_doc_per_lang": """
        SELECT lang, doc_id, n_chars_actual FROM (
            SELECT lang, doc_id, length(text) AS n_chars_actual,
                   row_number() OVER (PARTITION BY lang ORDER BY length(text) DESC, doc_id ASC) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
    "doc_repetition_signals": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS t
            FROM documents
        ), base AS (
            SELECT doc_id, t, len(t) AS n_words, len(list_distinct(t)) AS n_distinct_words
            FROM toks WHERE len(t) >= 2
        ), g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || chr(31) || t[i+1])) AS gram
            FROM base
        ), pg AS (
            SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
        ), agg AS (
            SELECT doc_id, sum(c) AS n_2grams, count(*) AS n_distinct_2grams, max(c) AS top_c
            FROM pg GROUP BY doc_id
        )
        SELECT b.doc_id,
               CAST(b.n_words AS BIGINT) AS n_words,
               CAST(b.n_distinct_words AS BIGINT) AS n_distinct_words,
               CAST(a.n_2grams AS BIGINT) AS n_2grams,
               CAST(a.n_distinct_2grams AS BIGINT) AS n_distinct_2grams,
               CAST(a.top_c AS BIGINT) AS top_2gram_count,
               round(1.0 - b.n_distinct_words * 1.0 / b.n_words, 6) AS dup_word_frac,
               round(1.0 - a.n_distinct_2grams * 1.0 / a.n_2grams, 6) AS dup_2gram_frac,
               round(a.top_c * 1.0 / a.n_2grams, 6) AS top_2gram_frac
        FROM base b JOIN agg a ON a.doc_id = b.doc_id
    """,
    "boilerplate_rate_by_source": """
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS t
            FROM documents
        ), occ AS (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || chr(31) || t[i+1] || chr(31) || t[i+2])) AS gram
            FROM toks WHERE len(t) >= 3
        ), hot AS (
            SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM occ)
            GROUP BY gram HAVING count(*) >= 4
        )
        SELECT o.source,
               CAST(count(*) AS BIGINT) AS n_gram_occurrences,
               CAST(sum(CASE WHEN h.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boilerplate_occurrences,
               round(sum(CASE WHEN h.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
                   AS boilerplate_rate
        FROM occ o LEFT JOIN hot h ON o.gram = h.gram
        GROUP BY o.source
    """,
    "gopher_quality_flags": """
        WITH base AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '') AS w
            FROM documents
            WHERE regexp_matches(text, '[^ \\t\\n\\x0B\\f\\r]')
        ), m AS (
            SELECT doc_id,
                   len(w) AS n_words,
                   length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) * 1.0 / len(w) AS mwl,
                   len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) * 1.0 / len(w) AS awf,
                   len(regexp_extract_all(text, '#|\\.\\.\\.|…')) * 1.0 / len(w) AS sym,
                   len(list_intersect(list_distinct(w),
                       ['the', 'a', 'of', 'to', 'and', 'in', 'is', 'that', 'for', 'it'])) AS sw
            FROM base
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(mwl, 4) AS mean_word_len,
               round(awf, 4) AS alpha_word_frac,
               round(sym, 4) AS symbol_ratio,
               CAST(sw AS BIGINT) AS stopword_hits,
               CASE WHEN n_words BETWEEN 50 AND 100000
                         AND mwl BETWEEN 3.0 AND 10.0
                         AND sym < 0.1
                         AND awf > 0.8
                         AND sw >= 2
                    THEN 1 ELSE 0 END AS passes_gopher
        FROM m
    """,
    "c4_line_filter_stats": """
        WITH base AS (
            SELECT doc_id, text, string_split(text, chr(10)) AS lines
            FROM documents
            WHERE regexp_matches(text, '[^ \\t\\n\\x0B\\f\\r]')
        ), k AS (
            SELECT doc_id, text, lines,
                   list_filter(lines, ln ->
                       len(list_filter(regexp_split_to_array(ln, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) >= 5
                       AND regexp_matches(regexp_replace(ln, '^[ \\t\\x0B\\f\\r]+|[ \\t\\x0B\\f\\r]+$', '', 'g'), '[.!?"]$')) AS kept,
                   CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS has_brace,
                   CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem
            FROM base
        )
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               CAST(coalesce(list_sum(list_transform(kept,
                        ln -> length(regexp_replace(ln, '^[ \\t\\x0B\\f\\r]+|[ \\t\\x0B\\f\\r]+$', '', 'g')))), 0) AS BIGINT)
                   AS kept_chars,
               has_brace, has_lorem,
               CASE WHEN len(kept) >= 3 AND has_brace = 0 AND has_lorem = 0
                    THEN 1 ELSE 0 END AS passes_c4
        FROM k
    """,
    "paragraph_dedup_docs": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS t
            FROM documents
        ), base AS (
            SELECT doc_id, t FROM toks WHERE len(t) >= 1
        ), chunks AS (
            SELECT doc_id, pos,
                   array_to_string(t[pos*8+1 : pos*8+8], ' ') AS line
            FROM (
                SELECT doc_id, t,
                       unnest(range(0, CAST(ceil(len(t) / 8.0) AS INT))) AS pos
                FROM base
            )
        ), hot AS (
            SELECT line FROM (SELECT DISTINCT doc_id, line FROM chunks)
            GROUP BY line HAVING count(*) >= 3
        ), kept AS (
            SELECT c.doc_id, c.pos, c.line
            FROM chunks c LEFT JOIN hot h ON c.line = h.line
            WHERE h.line IS NULL
        ), reb AS (
            SELECT doc_id,
                   string_agg(line, chr(10) || chr(10) ORDER BY pos) AS txt,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id
        ), tot AS (
            SELECT doc_id, count(*) AS n_lines FROM chunks GROUP BY doc_id
        )
        SELECT b.doc_id,
               coalesce(r.txt, '') AS deduped_text,
               CAST(coalesce(tt.n_lines, 0) AS BIGINT) AS n_lines,
               CAST(coalesce(tt.n_lines, 0) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
        FROM base b
        LEFT JOIN tot tt ON tt.doc_id = b.doc_id
        LEFT JOIN reb r ON r.doc_id = b.doc_id
    """,
    "contamination_flags": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS t
            FROM documents
        ), g AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 2),
                          i -> array_to_string(t[i:i+3], chr(31)))) AS gram
            FROM toks WHERE len(t) >= 4
        ), bench AS (
            SELECT DISTINCT gram FROM g WHERE doc_id < 20
        )
        SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_matched_grams
        FROM g JOIN bench b ON g.gram = b.gram
        WHERE g.doc_id >= 20
        GROUP BY g.doc_id
    """,
    "hash_sample_by_source": """
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 4) < '4000'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               round(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 4) < '4000'
                              THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS sample_rate
        FROM documents
        GROUP BY source
    """,
    "pii_redaction": """
        WITH pii AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                           ELSE '' END AS t
            FROM documents
        ), emailed AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
                   regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '|||EMAIL|||', 'g') AS t
            FROM pii
        )
        SELECT doc_id, n_email,
               CAST(len(regexp_extract_all(t, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
               md5(regexp_replace(t, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '|||IP|||', 'g')) AS redacted_md5
        FROM emailed
    """,
    "url_canonicalization": """
        WITH messy AS (
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN 'https://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN 'HTTP://WWW.' || upper(source) || '.EXAMPLE:80/doc/' || CAST(doc_id AS VARCHAR) || '/'
                     WHEN 2 THEN 'https://' || source || '.example:443/doc/' || CAST(doc_id AS VARCHAR) || '#frag'
                     ELSE 'https://www.' || source || '.example/doc/' || CAST(doc_id AS VARCHAR) || '?q=1'
                   END AS u
            FROM documents
        ), parts AS (
            SELECT doc_id, u,
                   regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
            FROM messy
        ), split AS (
            SELECT doc_id, u,
                   lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS host,
                   regexp_extract(rest, '^[^/?#]*([^#]*)', 1) AS path
            FROM parts
        )
        SELECT doc_id,
               u AS messy_url,
               'https://'
                 || regexp_replace(regexp_replace(host, '^www\\.', ''), ':(80|443)$', '')
                 || regexp_replace(path, '(.)/$', '\\1') AS canonical_url
        FROM split
    """,
    "embedding_norms": """
        SELECT vec_id, label,
               round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 3) AS l2_norm
        FROM embeddings
    """,
    "ann_topk_bruteforce": """
        WITH scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
                   round(
                     list_sum(list_transform(list_zip(e.embedding, q.embedding),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                   6) AS cosine
            FROM embeddings e
            CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
            WHERE e.vec_id <> q.vec_id
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    "embedding_near_dup_pairs": """
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               round(
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 2000 AND b.vec_id < 2000
          AND round(
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) >= 0.35
          -- zero-norm guard: DuckDB's 0/0 is NaN and NaN compares ABOVE the
          -- threshold; Spark's non-ANSI division yields NULL and drops —
          -- pin the drop on both sides
          AND NOT isnan(round(
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6))
    """,
    "label_centroid_dims": """
        SELECT label, count(*) AS n_vecs,
               round(avg(CAST(embedding[1] AS DOUBLE)), 4) AS mean_d0,
               round(avg(CAST(embedding[2] AS DOUBLE)), 4) AS mean_d1,
               round(avg(CAST(embedding[3] AS DOUBLE)), 4) AS mean_d2,
               round(avg(CAST(embedding[4] AS DOUBLE)), 4) AS mean_d3
        FROM embeddings GROUP BY label
    """,
    # Independent SQL re-implementation of the merge-policy SPEC (not the
    # Spark code): global-frequency elections with the pinned tie-breaks,
    # lengthiest/completing policies, J3 substring url pick, singleton
    # passthrough — over the same deterministic derived products table.
    "consolidated_products": """
        WITH products AS (
            SELECT doc_id AS id,
                   CASE WHEN doc_id % 10 <= 3 THEN 'CAS-' || CAST(doc_id % 40 AS VARCHAR)
                        WHEN doc_id % 10 = 4 THEN ''
                        WHEN doc_id % 10 = 5 THEN 'SKU: Not Available'
                        ELSE 'UNIQ-' || CAST(doc_id AS VARCHAR) END AS product_identifier,
                   CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE lang || '-' || CAST(n_chars % 4 AS VARCHAR) END AS brand,
                   CASE WHEN doc_id % 13 = 0 THEN NULL
                        ELSE 'U' || CAST(n_chars % 7 AS VARCHAR) END AS unspsc,
                   source AS root_domain,
                   'N' || CAST(n_chars % 13 AS VARCHAR) AS product_name,
                   'T' || CAST(n_chars % 11 AS VARCHAR) AS product_title,
                   CAST(length(text) AS BIGINT) AS desc_len,
                   CAST(length(substr(text, 1, CAST(1 + doc_id % 40 AS INT))) AS BIGINT) AS summary_len,
                   'https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR) AS page_url,
                   [lang, source] AS intended_industries,
                   CASE WHEN n_chars % 3 = 0 THEN [lang]
                        WHEN n_chars % 3 = 1 THEN CAST([] AS VARCHAR[])
                        ELSE NULL END AS materials,
                   CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 3 = 0 END AS eco_friendly,
                   CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(2015 + doc_id % 8 AS INT) END AS manufacturing_year
            FROM documents
        ),
        fb AS (SELECT brand AS v, count(*) AS f FROM products GROUP BY brand),
        fu AS (SELECT unspsc AS v, count(*) AS f FROM products GROUP BY unspsc),
        fr AS (SELECT root_domain AS v, count(*) AS f FROM products GROUP BY root_domain),
        fn AS (SELECT product_name AS v, count(*) AS f FROM products GROUP BY product_name),
        ft AS (SELECT product_title AS v, count(*) AS f FROM products GROUP BY product_title),
        valid AS (SELECT * FROM products
                  WHERE product_identifier <> '' AND product_identifier <> 'SKU: Not Available'),
        gsz AS (SELECT product_identifier, count(*) AS gs FROM valid GROUP BY product_identifier),
        ranked AS (
            SELECT m.*, g.gs,
                   row_number() OVER (PARTITION BY m.product_identifier
                       ORDER BY (m.brand IS NOT NULL) DESC, fb.f DESC, m.id ASC) AS rb,
                   row_number() OVER (PARTITION BY m.product_identifier
                       ORDER BY (m.unspsc IS NOT NULL) DESC, fu.f DESC, m.id ASC) AS ru,
                   row_number() OVER (PARTITION BY m.product_identifier
                       ORDER BY (m.root_domain IS NOT NULL) DESC, fr.f DESC, m.id ASC) AS rr,
                   row_number() OVER (PARTITION BY m.product_identifier
                       ORDER BY (m.product_name IS NOT NULL) DESC, fn.f ASC, m.id ASC) AS rnm,
                   row_number() OVER (PARTITION BY m.product_identifier
                       ORDER BY (m.product_title IS NOT NULL) DESC, ft.f ASC, m.id ASC) AS rt,
                   row_number() OVER (PARTITION BY m.product_identifier
                       ORDER BY m.desc_len DESC, m.id ASC) AS rde,
                   row_number() OVER (PARTITION BY m.product_identifier
                       ORDER BY m.summary_len DESC, m.id ASC) AS rsu
            FROM valid m
            JOIN gsz g USING (product_identifier)
            LEFT JOIN fb ON m.brand = fb.v
            LEFT JOIN fu ON m.unspsc = fu.v
            LEFT JOIN fr ON m.root_domain = fr.v
            LEFT JOIN fn ON m.product_name = fn.v
            LEFT JOIN ft ON m.product_title = ft.v
            WHERE g.gs >= 2
        ),
        magg AS (
            SELECT product_identifier,
                   min(id) AS id,
                   CAST(max(gs) AS BIGINT) AS group_size,
                   max(CASE WHEN rb = 1 THEN brand END) AS brand,
                   max(CASE WHEN ru = 1 THEN unspsc END) AS unspsc,
                   max(CASE WHEN rr = 1 THEN root_domain END) AS root_domain,
                   max(CASE WHEN rnm = 1 THEN product_name END) AS product_name,
                   max(CASE WHEN rt = 1 THEN product_title END) AS product_title,
                   max(CASE WHEN rde = 1 THEN desc_len END) AS desc_len,
                   max(CASE WHEN rsu = 1 THEN summary_len END) AS summary_len,
                   list_sort(list_distinct(flatten(list(coalesce(intended_industries, CAST([] AS VARCHAR[])))))) AS industries_l,
                   list_sort(list_distinct(flatten(list(coalesce(materials, CAST([] AS VARCHAR[])))))) AS materials_l,
                   list_sort(list_distinct(list(eco_friendly) FILTER (WHERE eco_friendly IS NOT NULL))) AS eco_l,
                   list_sort(list_distinct(list(manufacturing_year) FILTER (WHERE manufacturing_year IS NOT NULL))) AS year_l,
                   list_sort(list_distinct(list(page_url))) AS urls_l
            FROM ranked GROUP BY product_identifier
        ),
        upick AS (
            SELECT r.product_identifier, r.page_url,
                   row_number() OVER (PARTITION BY r.product_identifier ORDER BY r.id ASC) AS rn
            FROM ranked r JOIN magg g USING (product_identifier)
            WHERE contains(r.page_url, coalesce(g.root_domain, ''))
        ),
        mergedout AS (
            SELECT g.product_identifier, g.id, g.group_size, g.brand, g.unspsc,
                   g.root_domain, g.product_name, g.product_title, g.desc_len, g.summary_len,
                   u.page_url,
                   coalesce(array_to_string(g.industries_l, '|'), '') AS industries_str,
                   coalesce(array_to_string(g.materials_l, '|'), '') AS materials_str,
                   coalesce(array_to_string(list_transform(g.eco_l, x -> CAST(x AS VARCHAR)), '|'), '') AS eco_str,
                   coalesce(array_to_string(list_transform(g.year_l, x -> CAST(x AS VARCHAR)), '|'), '') AS year_str,
                   coalesce(array_to_string(g.urls_l, '|'), '') AS urls_str
            FROM magg g LEFT JOIN (SELECT * FROM upick WHERE rn = 1) u USING (product_identifier)
        ),
        ptout AS (
            SELECT p.product_identifier, p.id, CAST(1 AS BIGINT) AS group_size,
                   p.brand, p.unspsc, p.root_domain, p.product_name, p.product_title,
                   p.desc_len, p.summary_len, p.page_url,
                   coalesce(array_to_string(p.intended_industries, '|'), '') AS industries_str,
                   CASE WHEN p.materials IS NULL THEN NULL
                        ELSE coalesce(array_to_string(p.materials, '|'), '') END AS materials_str,
                   CASE WHEN p.eco_friendly IS NOT NULL THEN CAST(p.eco_friendly AS VARCHAR) ELSE '' END AS eco_str,
                   CASE WHEN p.manufacturing_year IS NOT NULL THEN CAST(p.manufacturing_year AS VARCHAR) ELSE '' END AS year_str,
                   p.page_url AS urls_str
            FROM products p LEFT JOIN gsz g USING (product_identifier)
            WHERE p.product_identifier = '' OR p.product_identifier = 'SKU: Not Available'
                  OR coalesce(g.gs, 1) < 2
        )
        SELECT * FROM mergedout UNION ALL SELECT * FROM ptout
    """,
    # A8 keyed min/max intervals re-derived from the spec: per group (merged
    # identifier groups AND singleton rows), per key, numeric min/max
    # stringified; literal survives only keys with no numeric value;
    # null-valued entries skipped.
    "consolidated_product_intervals": """
        WITH products AS (
            SELECT doc_id AS id,
                   CASE WHEN doc_id % 10 <= 3 THEN 'CAS-' || CAST(doc_id % 40 AS VARCHAR)
                        WHEN doc_id % 10 = 4 THEN ''
                        WHEN doc_id % 10 = 5 THEN 'SKU: Not Available'
                        ELSE 'UNIQ-' || CAST(doc_id AS VARCHAR) END AS product_identifier,
                   [
                     {'amount': CAST((n_chars % 97) + 0.5 AS DOUBLE),
                      'currency': ['USD','EUR','GBP'][CAST(doc_id % 3 AS INT) + 1],
                      'type': 'exact'},
                     {'amount': CAST(NULL AS DOUBLE), 'currency': 'USD', 'type': 'list'}
                   ] AS price,
                   [
                     {'dimension': ['h','w'][CAST(n_chars % 2 AS INT) + 1],
                      'qualitative': false, 'type': 'exact', 'unit': 'cm',
                      'value': CASE WHEN doc_id % 4 = 0 THEN 'tall'
                                    ELSE CAST(n_chars % 50 AS VARCHAR) END}
                   ] AS size
            FROM documents
        ),
        gsz AS (
            SELECT product_identifier, count(*) AS gs FROM products
            WHERE product_identifier <> '' AND product_identifier <> 'SKU: Not Available'
            GROUP BY product_identifier
        ),
        unitized AS (
            SELECT CASE WHEN p.product_identifier <> '' AND p.product_identifier <> 'SKU: Not Available'
                             AND coalesce(g.gs, 0) >= 2
                        THEN 'g:' || p.product_identifier
                        ELSE 'r:' || CAST(p.id AS VARCHAR) END AS gkey,
                   p.*
            FROM products p LEFT JOIN gsz g USING (product_identifier)
        ),
        gid AS (
            -- survivor id per group = min over ALL members, not just the
            -- members contributing a given key (A5 min-id survivor)
            SELECT gkey, min(id) AS id, min(product_identifier) AS product_identifier
            FROM unitized GROUP BY gkey
        ),
        pentries AS (
            SELECT gkey, e.currency AS key_str, e.amount AS v
            FROM (SELECT gkey, unnest(price) AS e FROM unitized)
            WHERE e.amount IS NOT NULL
        ),
        pagg AS (
            SELECT gkey, 'price' AS field, key_str,
                   CAST(min(v) AS VARCHAR) AS min_val,
                   CAST(max(v) AS VARCHAR) AS max_val
            FROM pentries GROUP BY gkey, key_str
        ),
        sentries AS (
            SELECT gkey, id,
                   e.dimension || '|' || e.unit AS key_str,
                   e.value AS v, TRY_CAST(e.value AS DOUBLE) AS num
            FROM (SELECT gkey, id, unnest(size) AS e FROM unitized)
            WHERE e.value IS NOT NULL
        ),
        sagg AS (
            -- literal fallback elects the LAST-written literal = max by id
            -- (the engine's (id, pos) LWW; this fixture's size arrays are
            -- single-element so pos never disambiguates), NOT the
            -- lexicographic max of the strings
            SELECT gkey, 'size' AS field, key_str,
                   CASE WHEN count(num) > 0 THEN CAST(min(num) AS VARCHAR)
                        ELSE arg_max(v, id) FILTER (WHERE num IS NULL) END AS min_val,
                   CASE WHEN count(num) > 0 THEN CAST(max(num) AS VARCHAR)
                        ELSE arg_max(v, id) FILTER (WHERE num IS NULL) END AS max_val
            FROM sentries GROUP BY gkey, key_str
        ),
        unioned AS (SELECT * FROM pagg UNION ALL SELECT * FROM sagg)
        SELECT g.product_identifier, g.id, u.field, u.key_str, u.min_val, u.max_val
        FROM unioned u JOIN gid g USING (gkey)
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "top_customers": """
        SELECT c_custkey, c_name,
               round(sum(o_totalprice), 2) AS total_spent,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY total_spent DESC, c_custkey ASC
        LIMIT 10
    """,
    "order_priority_counts": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        GROUP BY o_orderpriority
    """,
    "region_nation_rollup": """
        SELECT r_name, n_name, count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "supplier_part_topk": """
        SELECT p_brand, p_partkey, p_retailprice, rn FROM (
            SELECT p_brand, p_partkey, p_retailprice,
                   row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
            FROM part
        ) WHERE rn <= 3
    """,
    "events_user_sessions": """
        WITH lagged AS (
            SELECT user_id, value, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
            FROM events
        )
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               round(sum(value), 3) AS total_value
        FROM lagged GROUP BY user_id
    """,
    "event_type_stats": """
        SELECT event_type, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               round(min(value), 3) AS min_value,
               round(max(value), 3) AS max_value
        FROM events GROUP BY event_type
    """,
    "orders_without_lineitems": """
        SELECT o_orderstatus, count(*) AS n_orders
        FROM orders
        WHERE o_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM lineitem)
        GROUP BY o_orderstatus
    """,
}
