"""Text analysis operators for LLM-data pipelines (SURVEY.md §2B E27).

Everything runs as built-in expressions (regex, split, higher-order
functions) — per-document work with no shuffle except the final statistics
group-bys, so these scale linearly with corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.catalog import table

ORACLES: dict[str, str] = {}


def _oracle(name: str, sql: str):
    ORACLES[name] = sql


STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# Shared DuckDB mirror of doc_quality's composite score: a (doc_id,
# quality_score) relation over `documents`.  Interpolated into BOTH the
# doc_quality oracle and dedup_keep_best's survivorship oracle so a future
# change to the scoring formula cannot silently desynchronize the two
# (ADVICE r5); the stoplist interpolates from STOPWORDS for the same
# reason.
QUALITY_SCORE_SQL = r"""
        SELECT doc_id,
               CASE WHEN LEN(string_split(text, ' ')) < 5 THEN 0.0
                    ELSE (1.0 - (LENGTH(text) - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')))
                                / CAST(LENGTH(text) AS DOUBLE))
                         * (0.5 + (LEN(list_filter(string_split(text, ' '),
                                        w -> w IN ({stoplist})))
                                   / CAST(LEN(string_split(text, ' ')) AS DOUBLE)) / 2)
               END AS quality_score
        FROM documents
""".format(stoplist=", ".join(f"'{w}'" for w in STOPWORDS))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: length, token stats, punctuation and
    stopword ratios, and a composite quality score.

    The score formula is deliberately SQL-expressible so the whole feature
    pipe is oracle-checked; heuristics mirror common pretraining-data
    filters (Gopher/C4-style length+symbol+stopword rules).
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tokens = F.size(words)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    # Raw int/int divisions: identical IEEE doubles on both engines — no
    # rounding (rounding rationals invites cross-engine tie divergence).
    # n_tokens >= 1 always (split('') -> ['']), so those divisions are
    # safe; n_chars CAN be 0 (empty text) and a plain / THROWS under
    # Spark 4's default ANSI mode — try_divide yields NULL, matching the
    # DuckDB oracle's 0/0 result (r9 review, pinned by test).
    avg_token_len = (n_chars - (n_tokens - F.lit(1))) / n_tokens
    punct_ratio = F.try_divide(n_punct, n_chars)
    stop_ratio = n_stop / n_tokens
    score = F.when(n_tokens < 5, 0.0).otherwise(
        (F.lit(1.0) - punct_ratio) * (F.lit(0.5) + stop_ratio / 2)
    )
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_actual"),
        avg_token_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality_score"),
    )


_oracle(
    "doc_quality",
    r"""
    WITH feat AS (
        SELECT doc_id, lang,
               CAST(LEN(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(LENGTH(text) AS INTEGER) AS n_chars_actual,
               CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')) AS INTEGER) AS n_punct,
               CAST(LEN(list_filter(string_split(text, ' '),
                    w -> w IN ({stoplist}))) AS INTEGER) AS n_stop
        FROM documents
    ), q AS (
""".format(stoplist=", ".join(f"'{w}'" for w in STOPWORDS))
    + QUALITY_SCORE_SQL
    + r"""
    )
    SELECT f.doc_id, f.lang, f.n_tokens, f.n_chars_actual,
           (f.n_chars_actual - (f.n_tokens - 1)) / CAST(f.n_tokens AS DOUBLE) AS avg_token_len,
           f.n_punct / CAST(f.n_chars_actual AS DOUBLE) AS punct_ratio,
           f.n_stop / CAST(f.n_tokens AS DOUBLE) AS stop_ratio,
           q.quality_score
    FROM feat f JOIN q USING (doc_id)
    """,
)


QUALITY_BUCKETS = 100  # retention-curve threshold grid: 0.00, 0.01, ..., 0.99


def quality_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus retention at each quality-score threshold — the planning
    table a curator reads before picking the filter cut: raising the
    threshold to ``t`` keeps how many documents / tokens / characters?

    Composes ``doc_quality``'s oracle-pinned score with a bucketed
    descending cumulative sum: each doc lands in its score centile
    (``least(floor(score*100), 99)`` — a deterministic function of the
    score's IEEE bits, identical across engines since both compute the
    score from the same int/int rationals), a <=100-partial aggregate
    collapses the corpus, and the cumulative "retained at >= t" sums run
    over that <=100-row frame.

    100 TB posture: ONE pass over the corpus (the doc_quality features are
    row-local), one map-side-combined aggregate down to <=100 partials, and
    windows only over the <=100-row bucket frame — the curve costs the same
    as a global count.  Compare `mapInPandas`-histogram approaches, which
    give up the exact token totals the mix planner needs.
    """
    q = doc_quality(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("quality_score") * QUALITY_BUCKETS).cast("int"),
        F.lit(QUALITY_BUCKETS - 1),
    )
    per = (
        q.select(bucket.alias("bucket"), "n_tokens", "n_chars_actual")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("bucket_docs"),
            F.sum("n_tokens").alias("bucket_tokens"),
            F.sum("n_chars_actual").alias("bucket_chars"),
        )
    )
    # Windows over the bucket frame only — <=100 rows regardless of corpus
    # size, so the single-partition exchange they imply is metadata-sized.
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        (F.col("bucket") / F.lit(float(QUALITY_BUCKETS))).alias("threshold"),
        F.sum("bucket_docs").over(w).cast("long").alias("docs_retained"),
        F.sum("bucket_tokens").over(w).cast("long").alias("tokens_retained"),
        F.sum("bucket_chars").over(w).cast("long").alias("chars_retained"),
        (
            F.sum("bucket_tokens").over(w)
            / F.sum("bucket_tokens").over(w_all).cast("double")
        ).alias("token_retention"),
    )


_oracle(
    "quality_retention_curve",
    r"""
    WITH q AS (
"""
    + QUALITY_SCORE_SQL
    + r"""
    ), b AS (
        SELECT LEAST(CAST(FLOOR(q.quality_score * {nb}) AS INTEGER), {nb1}) AS bucket,
               CAST(LEN(string_split(d.text, ' ')) AS INTEGER) AS n_tokens,
               CAST(LENGTH(d.text) AS INTEGER) AS n_chars_actual
        FROM documents d JOIN q USING (doc_id)
    ), per AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS bucket_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens,
               CAST(SUM(n_chars_actual) AS BIGINT) AS bucket_chars
        FROM b GROUP BY bucket
    )
    SELECT CAST(bucket AS DOUBLE) / {nb} AS threshold,
           CAST(SUM(bucket_docs) OVER w AS BIGINT) AS docs_retained,
           CAST(SUM(bucket_tokens) OVER w AS BIGINT) AS tokens_retained,
           CAST(SUM(bucket_chars) OVER w AS BIGINT) AS chars_retained,
           SUM(bucket_tokens) OVER w
               / CAST(SUM(bucket_tokens) OVER () AS DOUBLE) AS token_retention
    FROM per
    WINDOW w AS (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """.replace("{nb1}", str(QUALITY_BUCKETS - 1))
    .replace("{nb}", str(QUALITY_BUCKETS)),
)


def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language tag."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return (
        d.select("lang", "source", "n_chars", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


_oracle(
    "lang_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
           CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    """,
)


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (word pieces + standalone punctuation) — the usual pretraining budget
    estimators."""
    d = table(spark, sf_dir, "documents")
    ws_tokens = F.size(F.split("text", r"\s+"))
    bpe_tokens = F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"))
    return d.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        bpe_tokens.alias("bpe_tokens"),
    )


_oracle(
    "token_count",
    r"""
    SELECT doc_id,
           CAST(LEN(regexp_split_to_array(text, '\s+')) AS INTEGER) AS ws_tokens,
           CAST(LEN(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS bpe_tokens
    FROM documents
    """,
)


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text + a shard bucket.

    The 2-hex-char bucket (256-way) is the shuffle/partition key a 100 TB
    dedup would shard on — uniform by construction.
    """
    d = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    fp = F.md5(norm.cast("binary"))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 2).alias("shard_bucket"),
        F.length(norm).alias("norm_len"),
    )


_oracle(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(LOWER(TRIM(text))) AS fingerprint,
           SUBSTRING(md5(LOWER(TRIM(text))), 1, 2) AS shard_bucket,
           CAST(LENGTH(LOWER(TRIM(text))) AS INTEGER) AS norm_len
    FROM documents
    """,
)


# Marker-word profiles per language for the n-gram/stopword language-ID
# heuristic.  Deterministic and data-independent; a real system would load
# fastText/CLD3 profiles — the *operator shape* (score per language ->
# argmax, all JVM-side) is what matters at scale.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "das", "ist"),
    "fr": ("le", "et", "la", "est"),
    "es": ("el", "y", "la", "es"),
    "zh": ("de", "shi", "le", "he"),
}


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: score = |tokens ∩ markers(lang)| / |tokens|,
    predict the argmax.  Fully deterministic (integer-ratio scores, fixed
    tie-break order), so the oracle mirrors the marker table into SQL —
    generated from LANG_MARKERS below to keep one source of truth."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tokens = F.size(words)
    scores = [
        (
            F.size(F.filter(words, lambda w: w.isin(*markers))) / n_tokens
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    scored = d.select("doc_id", "lang", *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lg}") == best, F.lit(lg)) for lg in langs]
    )
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        F.round(best, 4).alias("confidence"),
    )


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style text normalization: lowercase, strip punctuation,
    collapse whitespace — all row-local regex in the scan stage (the C4-style
    cleanup pass that precedes tokenization)."""
    d = table(spark, sf_dir, "documents")
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^\w\s]", ""),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        normalized.alias("norm_text"),
        F.length("text").alias("chars_before"),
        F.length(normalized).alias("chars_after"),
    )


_oracle(
    "text_normalize",
    r"""
    SELECT doc_id,
           TRIM(regexp_replace(regexp_replace(LOWER(text), '[^\w\s]', '', 'g'),
                               '\s+', ' ', 'g')) AS norm_text,
           CAST(LENGTH(text) AS INTEGER) AS chars_before,
           CAST(LENGTH(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^\w\s]', '', 'g'),
                                           '\s+', ' ', 'g'))) AS INTEGER) AS chars_after
    FROM documents
    """,
)


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: mask email-shaped tokens and long digit runs,
    reporting per-document redaction counts — the pre-release scrub every
    training corpus needs, as pure row-local regex."""
    d = table(spark, sf_dir, "documents")
    email_re = r"[\w.]+@[\w.]+"
    num_re = r"\d{4,}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_re, "<EMAIL>"), num_re, "<NUM>"
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        F.size(F.regexp_extract_all("text", F.lit(email_re), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(num_re), F.lit(0))).alias(
            "n_long_numbers"
        ),
    )


_oracle(
    "pii_scrub",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '[\w.]+@[\w.]+', '<EMAIL>', 'g'),
                          '\d{4,}', '<NUM>', 'g') AS scrubbed_text,
           CAST(LEN(regexp_extract_all(text, '[\w.]+@[\w.]+')) AS INTEGER) AS n_emails,
           CAST(LEN(regexp_extract_all(text, '\d{4,}')) AS INTEGER) AS n_long_numbers
    FROM documents
    """,
)


def reading_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability features: sentence count, words per sentence, vowel-group
    (syllable-ish) density — the Flesch-style inputs, as pure row-local
    regex (no shuffle until a downstream aggregate)."""
    d = table(spark, sf_dir, "documents")
    n_sentences = F.greatest(
        F.size(F.split("text", r"[.!?]+")) - 1, F.lit(1)
    )
    n_words = F.size(F.filter(F.split("text", " "), lambda w: F.length(w) > 0))
    n_vowel_groups = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    )
    return d.select(
        "doc_id",
        n_sentences.alias("n_sentences"),
        n_words.alias("n_words"),
        (n_words / n_sentences).alias("words_per_sentence"),
        n_vowel_groups.alias("n_vowel_groups"),
        # n_words can be 0 (whitespace-only text; the length>0 filter
        # drops every token) — try_divide keeps ANSI mode from throwing
        # and mirrors the oracle's NULL (r9 review, pinned by test);
        # n_sentences is greatest(...,1)-guarded above.
        F.try_divide(n_vowel_groups, n_words).alias("vowel_groups_per_word"),
    )


_oracle(
    "reading_level",
    r"""
    WITH f AS (
        SELECT doc_id,
               GREATEST(LEN(string_split_regex(text, '[.!?]+')) - 1, 1)
                   AS n_sentences,
               LEN(list_filter(string_split(text, ' '),
                               w -> LENGTH(w) > 0)) AS n_words,
               LEN(regexp_extract_all(LOWER(text), '[aeiouy]+'))
                   AS n_vowel_groups
        FROM documents
    )
    SELECT doc_id,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           CAST(n_words AS INTEGER) AS n_words,
           n_words / CAST(n_sentences AS DOUBLE) AS words_per_sentence,
           CAST(n_vowel_groups AS INTEGER) AS n_vowel_groups,
           n_vowel_groups / CAST(n_words AS DOUBLE) AS vowel_groups_per_word
    FROM f
    """,
)


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality filter -> exact dedup (keep
    lowest doc_id) -> deterministic hash split — the composition every
    pretraining-data pipeline runs, as one lazy Spark plan.

    Quality gate: >= 5 tokens and < 30% punctuation (Gopher-style).  The
    final hash split keeps the 1/4 of survivors whose content-hash bucket is
    0-3 — reproducible corpus membership with no RNG (see
    deterministic_sample).
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tokens = F.size(words)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    quality = d.filter((n_tokens >= 5) & (n_punct / n_chars < 0.3))
    w = Window.partitionBy("text").orderBy(F.col("doc_id").asc())
    deduped = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bucket = F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
    return deduped.filter(bucket.isin("0", "1", "2", "3")).select(
        "doc_id", "lang", "source", n_tokens.alias("n_tokens")
    )


_oracle(
    "corpus_curation",
    r"""
    WITH quality AS (
        SELECT *
        FROM documents
        WHERE LEN(string_split(text, ' ')) >= 5
          AND (LENGTH(text) - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')))
              / CAST(LENGTH(text) AS DOUBLE) < 0.3
    ), deduped AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM quality
    )
    SELECT doc_id, lang, source,
           CAST(LEN(string_split(text, ' ')) AS INTEGER) AS n_tokens
    FROM deduped
    WHERE rn = 1 AND SUBSTRING(md5(text), 1, 1) IN ('0', '1', '2', '3')
    """,
)


REP_DUP_WORD_T = 0.5       # avg dup-word fraction in testdata is ~0.50
REP_TOP_WORD_T = 0.12      # avg top-word fraction ~0.10
REP_TOP_BIGRAM_T = 0.05    # avg top-bigram fraction ~0.04


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals, aggregated per source:
    duplicate-word fraction, top-word fraction, and top-2-gram fraction,
    plus counts of documents a pretraining filter would flag on each.

    Scale shape: two explodes, each shuffling (doc_id, term)-keyed counts
    with map-side combine — the standard distributed per-document mode; the
    per-doc word and bigram stats then co-locate on doc_id.  Bigrams are
    built row-locally (zip_with of two slices — no self-join), with the
    descending-``sequence`` empty-doc trap guarded.  Corpus fractions are a
    SINGLE division of exactly-summed integers, so doubles compare
    bit-for-bit cross-engine without rounding.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    base = d.select(
        "doc_id", "source", words.alias("ws"), F.size(words).alias("nw")
    )
    bigrams = F.when(
        F.col("nw") >= 2,
        F.zip_with(
            F.slice("ws", F.lit(1), F.col("nw") - 1),
            F.slice("ws", F.lit(2), F.col("nw") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))

    wdoc = (
        base.select("doc_id", "source", F.explode("ws").alias("w"))
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("c").alias("top_word_cnt"),
        )
    )
    bdoc = (
        base.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_cnt"))
    )
    doc = wdoc.join(bdoc, "doc_id", "left")
    dup_frac = (F.col("n_words") - F.col("n_distinct_words")) / F.col("n_words")
    top_w_frac = F.col("top_word_cnt") / F.col("n_words")
    top_b_frac = F.col("top_bigram_cnt") / F.col("n_bigrams")
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flag(dup_frac > REP_DUP_WORD_T)).alias("n_flag_dup_word"),
        F.sum(flag(top_w_frac > REP_TOP_WORD_T)).alias("n_flag_top_word"),
        F.sum(flag(top_b_frac > REP_TOP_BIGRAM_T)).alias("n_flag_top_bigram"),
        (
            (F.sum("n_words") - F.sum("n_distinct_words"))
            / F.sum("n_words").cast("double")
        ).alias("corpus_dup_word_frac"),
        (
            F.sum("top_bigram_cnt") / F.sum("n_bigrams").cast("double")
        ).alias("corpus_top_bigram_frac"),
    )


_oracle(
    "repetition_stats",
    f"""
    WITH base AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws,
               LEN(string_split(text, ' ')) AS nw
        FROM documents
    ), wcnt AS (
        SELECT doc_id, source, w, COUNT(*) AS c
        FROM (SELECT doc_id, source, unnest(ws) AS w FROM base)
        GROUP BY doc_id, source, w
    ), wdoc AS (
        SELECT doc_id, source, SUM(c) AS n_words, COUNT(*) AS n_distinct_words,
               MAX(c) AS top_word_cnt
        FROM wcnt GROUP BY doc_id, source
    ), bg AS (
        SELECT doc_id,
               unnest(CASE WHEN nw >= 2
                           THEN list_transform(range(1, nw),
                                               i -> ws[i] || ' ' || ws[i + 1])
                           ELSE [] END) AS b
        FROM base
    ), bcnt AS (
        SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
    ), bdoc AS (
        SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_cnt
        FROM bcnt GROUP BY doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN (n_words - n_distinct_words)
                              / CAST(n_words AS DOUBLE) > {REP_DUP_WORD_T}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup_word,
           CAST(SUM(CASE WHEN top_word_cnt / CAST(n_words AS DOUBLE)
                              > {REP_TOP_WORD_T}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top_word,
           CAST(SUM(CASE WHEN top_bigram_cnt / CAST(n_bigrams AS DOUBLE)
                              > {REP_TOP_BIGRAM_T}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top_bigram,
           (CAST(SUM(n_words) AS BIGINT) - CAST(SUM(n_distinct_words) AS BIGINT))
               / CAST(CAST(SUM(n_words) AS BIGINT) AS DOUBLE)
               AS corpus_dup_word_frac,
           CAST(SUM(top_bigram_cnt) AS BIGINT)
               / CAST(CAST(SUM(n_bigrams) AS BIGINT) AS DOUBLE)
               AS corpus_top_bigram_frac
    FROM wdoc LEFT JOIN bdoc USING (doc_id)
    GROUP BY source
    """,
)


def _lang_id_oracle_sql() -> str:
    score_cols = ",\n               ".join(
        "CAST(LEN(list_filter(string_split(text, ' '), w -> w IN ({0}))) AS DOUBLE)"
        " / LEN(string_split(text, ' ')) AS score_{1}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    greatest = "GREATEST({})".format(", ".join(f"score_{lg}" for lg in langs))
    case = " ".join(f"WHEN score_{lg} = g THEN '{lg}'" for lg in langs)
    return f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {score_cols}
        FROM documents
    ), g AS (
        SELECT *, {greatest} AS g FROM scored
    )
    SELECT doc_id, lang,
           CASE {case} END AS predicted_lang,
           ROUND(g, 4) AS confidence
    FROM g
    """


_oracle("lang_id_heuristic", _lang_id_oracle_sql())


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, as a pure DataFrame composition
    (tokenize -> term counts -> document frequency -> idf join -> rank).

    Scale shape: two shuffles (term-count groupBy, df groupBy) plus a
    broadcast join of the (vocabulary-sized) idf table back onto term
    counts.  ln() is rounded to 6 decimals because libm implementations
    differ in the last ulp; ranking uses the rounded value + term as the
    deterministic tie-break.
    """
    from airflow_postgres_to_s3_pipeline_spark.catalog import table_rows

    d = table(spark, sf_dir, "documents")
    # collection statistic from the parquet footers — equals d.count() by
    # parquet contract (the r13 table_rows pattern), zero Spark jobs
    n_docs = table_rows(sf_dir, "documents")
    # NOT persisted (r14 A/B): caching the corpus-sized (doc, term, tf)
    # frame for its two consumers measured +27% vs recomputing the cheap
    # tokenize+partial-agg subtree (0.99 -> 1.26s min-of-4 interleaved)
    tf = _doc_tf(d)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.select(
        "term",
        F.round(F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
    )


_oracle(
    "tfidf_top_terms",
    """
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM tokens WHERE LENGTH(term) > 0
        GROUP BY doc_id, term
    ), idf AS (
        SELECT term,
               ROUND(LN(((SELECT COUNT(*) FROM documents) + 1.0) / (COUNT(*) + 1.0)), 6) AS idf
        FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               ROUND(tf.tf * idf.idf, 6) AS tfidf
        FROM tf JOIN idf USING (term)
    )
    SELECT doc_id, term, tf, tfidf, rnk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
)


CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def doc_chunking(spark: SparkSession, sf_dir: str,
                 chunk_size: int = CHUNK_SIZE,
                 stride: int = CHUNK_STRIDE) -> DataFrame:
    """Sliding token-window chunking — the tokenize-and-chunk stage in
    front of LLM pretraining: each document becomes ceil(n/stride) chunks
    of ``chunk_size`` tokens overlapping by ``chunk_size - stride``.

    Row-local (split -> sequence -> explode -> slice): zero shuffles, so
    the stage scales linearly and keeps the document's partition.  The
    chunk-start sequence is guarded (Spark's sequence() walks DESCENDING
    for a negative span — the documented repo-wide footgun) though n >= 1
    always holds after the empty-token filter here.
    """
    d = table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    n = F.size(F.col("words"))
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.slice(
        F.col("words"), F.col("chunk_id") * stride + 1, chunk_size
    )
    return (
        d.select("doc_id", words.alias("words"))
        .select("doc_id", "words", F.explode(starts).alias("chunk_id"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


_oracle(
    "doc_chunking",
    f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> len(x) > 0) AS words
        FROM documents
    ), c AS (
        SELECT doc_id, words,
               UNNEST(range(0, ((len(words) - 1) // {CHUNK_STRIDE}) + 1))
                   AS chunk_id
        FROM w WHERE len(words) > 0
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(list_slice(words, chunk_id * {CHUNK_STRIDE} + 1,
                               chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}))
                AS INTEGER) AS n_chunk_tokens,
           array_to_string(list_slice(words, chunk_id * {CHUNK_STRIDE} + 1,
                                      chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}),
                           ' ') AS chunk_text
    FROM c
    """,
)


def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document (the KenLM-style perplexity
    quality filter, self-trained on the corpus): p(term) is add-one
    smoothed over the corpus vocabulary and each document is scored by
    -sum(tf * ln p) / n_tokens.

    Determinism: per-term log-probs are snapped to integer MICRO-nats
    (round(ln p * 1e6) as bigint) so every per-document sum is exact
    64-bit integer arithmetic — no float-summation order anywhere; the
    only doubles are one ln per vocab term (rounded, cross-engine-safe)
    and the final two-division average, identical on both engines.

    Scale shape: two token shuffles (doc-term tf, corpus term counts) and
    a term-keyed join of the vocab's log-probs back onto tf — AQE
    broadcasts the vocab side when it is small; for web-scale vocabularies
    it stays a shuffle join and a min-count vocabulary cut is the standard
    mitigation.  The (T, V) totals are a 1-row broadcast.
    """
    d = table(spark, sf_dir, "documents")
    # NEITHER tf nor vocab is persisted (r14 A/Bs): caching the
    # corpus-sized tf frame measured +39% and caching the thin vocab
    # aggregate +17% vs plain recomputation of the cheap tokenize+agg
    # subtrees at sf0.1 — the plan's three tf copies are cheaper than the
    # materialization barrier here (cf. the minhash persists, whose
    # REMOVAL was +55%: persist pays only above a much higher recompute
    # cost)
    tf = _doc_tf(d)
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("_t"), F.count(F.lit(1)).alias("_v")
    )
    lp = vocab.crossJoin(F.broadcast(totals)).select(
        "term",
        F.round(
            F.log((F.col("cnt") + F.lit(1.0)) / (F.col("_t") + F.col("_v")))
            * F.lit(1000000.0)
        ).cast("bigint").alias("logp_micro"),
    )
    per_doc = (
        tf.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("logp_micro")).alias("score_micro"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "score_micro",
        (-(F.col("score_micro").cast("double") / F.col("n_tokens")
           / F.lit(1000000.0))).alias("cross_entropy"),
    )


_oracle(
    "ngram_lm_score",
    """
    WITH tok AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split(text, ' '),
                                  x -> len(x) > 0)) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), vocab AS (
        SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1
    ), tot AS (
        SELECT SUM(cnt) AS t, COUNT(*) AS v FROM vocab
    ), lp AS (
        SELECT term,
               CAST(round(ln((cnt + 1.0) / (t + v)) * 1000000.0) AS BIGINT)
                   AS logp_micro
        FROM vocab, tot
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * logp_micro) AS BIGINT) AS score_micro,
           -(CAST(SUM(tf * logp_micro) AS DOUBLE) / SUM(tf) / 1000000.0)
               AS cross_entropy
    FROM tf JOIN lp USING (term)
    GROUP BY doc_id
    """,
)


BM25_QUERY_TERMS = ("join", "filter", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_N = 20


def _doc_tf(d: DataFrame) -> DataFrame:
    """(doc_id, term, tf) over whitespace tokens — the stage bm25_scoring
    and hybrid_search_rrf share (factored so the hybrid query pays the
    corpus token-explode + count shuffle ONCE)."""
    tokens = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "),
                           lambda w: F.length(w) > 0)).alias("term"),
    )
    return tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def _query_bucket_counts() -> dict[int, int]:
    """Hashing-trick bucket -> count for the fixed query terms, computed
    driver-side: hashlib md5 == Spark md5 == DuckDB md5, and the
    int(hex[:15], 16) % HASH_DIM arithmetic is exact in all three, so
    these literals are engine-identical to the oracle's qb CTE."""
    import hashlib

    counts: dict[int, int] = {}
    for t in BM25_QUERY_TERMS:
        b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % HASH_DIM
        counts[b] = counts.get(b, 0) + 1
    return counts


def _bm25_doc_stats(d: DataFrame, with_dot: bool = False) -> DataFrame:
    """Row-local per-doc retrieval statistics (r13 optimization, guide
    §2.4/§8): every decision BM25 and the hashing-trick dense tier make
    depends only on (dl, per-query-term tf[, dense dot]) — a handful of
    ints per document — so compute them INSIDE the scan with array HOFs
    and never shuffle anything corpus-sized.  Replaces the explode ->
    groupBy(doc_id, term) tf stage plus its dl re-aggregation and
    doc_id-keyed scoring join (3 corpus exchanges + 1 join at 100 TB).

    Column semantics mirror the tf/dl chain exactly: ``dl`` counts
    non-empty whitespace tokens (= SUM(tf)); ``tf{k}`` is query term k's
    occurrence count (= its tf row, 0 when absent); ``dot`` is the
    integer dense score SUM(dv * qv) over hash buckets (= per-token
    lookup of the query-bucket counts, summed row-locally — dv regroups
    exactly because integer addition is order-free).
    """
    # NULL-guard (r13 ADVICE): F.split(NULL) is NULL and F.size(NULL) = -1,
    # so a NULL-text doc would contribute dl=-1 to _sum_dl and silently
    # bias avgdl; the pre-r13 explode chain simply produced no token rows
    # for such docs.  COALESCE to "" gives dl=0 / tf=0 — same aggregate
    # contribution as the old chain (testdata has no NULL texts, so this
    # is robustness, not a result change).
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: F.length(w) > 0,
    )
    base = d.select("doc_id", toks.alias("_toks"))
    cols = [F.col("doc_id"), F.size("_toks").alias("dl")]
    for k, term in enumerate(BM25_QUERY_TERMS):
        cols.append(
            F.size(
                F.filter("_toks", lambda w: w == F.lit(term))
            ).alias(f"tf{k}")
        )
    if with_dot:
        qb = _query_bucket_counts()
        bucket = lambda t: (  # noqa: E731 — same md5 slice as the oracle
            F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10)
            .cast("long") % HASH_DIM
        )
        points = F.transform("_toks", lambda t: _case_map(bucket(t), qb))
        cols.append(
            F.aggregate(
                points,
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot")
        )
    return base.select(*cols)


def _case_map(expr, mapping: dict[int, int]):
    """CASE expr WHEN k THEN v ... ELSE 0 over a tiny literal dict."""
    out = None
    for k, v in mapping.items():
        cond = expr == F.lit(k)
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    return out.otherwise(F.lit(0)).cast("long")


def _bm25_rank(stats: DataFrame) -> DataFrame:
    """BM25 top-N from the row-local per-doc stats frame: ONE global
    1-row aggregate (n_docs, Σdl, dl-count, per-term df) broadcast back,
    per-doc micro-point scoring in place, TakeOrderedAndProject top-N.
    Float sequence is identical to the r5-r12 join formulation (same
    idf/avgdl doubles, same per-(doc,term) round-to-micro snap, integer
    final sum), so results are bit-equal."""
    n_terms = len(BM25_QUERY_TERMS)
    g = stats.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("dl").alias("_sum_dl"),
        F.count(F.when(F.col("dl") > 0, F.lit(1))).alias("_n_dl"),
        *[
            F.sum(
                F.when(F.col(f"tf{k}") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"_df{k}")
            for k in range(n_terms)
        ],
    )
    avgdl = F.col("_sum_dl").cast("double") / F.col("_n_dl")
    contribs = []
    for k in range(n_terms):
        idf = F.round(
            F.log(
                (F.col("_n_docs").cast("double") - F.col(f"_df{k}") + F.lit(0.5))
                / (F.col(f"_df{k}") + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        )
        tf_k = F.col(f"tf{k}")
        contribs.append(
            F.when(
                tf_k > 0,
                F.round(
                    idf
                    * (tf_k * (BM25_K1 + 1.0))
                    / (
                        tf_k
                        + BM25_K1
                        * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
                    )
                    * F.lit(1000000.0)
                ).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    micro = contribs[0]
    for c in contribs[1:]:
        micro = micro + c
    any_hit = F.col("tf0") > 0
    for k in range(1, n_terms):
        any_hit = any_hit | (F.col(f"tf{k}") > 0)
    return (
        stats.crossJoin(F.broadcast(g))
        .filter(any_hit)
        .select("doc_id", micro.alias("bm25_micro"))
        .select(
            "doc_id",
            "bm25_micro",
            (F.col("bm25_micro").cast("double") / F.lit(1000000.0)).alias(
                "bm25"
            ),
        )
        .orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_N)
    )


def bm25_scoring(spark: SparkSession, sf_dir: str,
                 stats: DataFrame | None = None) -> DataFrame:
    """Okapi BM25 ranking of documents against a fixed query — the
    retrieval-quality tier next to ``tfidf_top_terms``.

    Shape (r13 optimization, guide §2.4/§8): per-doc (dl, tf per query
    term) are computed row-locally inside the scan (``_bm25_doc_stats``),
    collection statistics (n_docs, avgdl, df) are ONE 1-row aggregate
    broadcast back, and scoring + top-N happen in place — zero
    corpus-wide exchanges, vs the r5-r12 chain's three (tf groupBy, dl
    groupBy, df groupBy) plus a doc_id-keyed scoring join.  The thin
    stats frame is persisted for its two consumers (the stats aggregate
    and the scoring scan).

    Determinism: idf is ln-rounded to 6 decimals (libm last-ulp rule);
    each per-(doc,term) contribution is snapped to integer MICRO-points
    before the per-document sum, so the final ranking key is exact int64
    (same design as ngram_lm_score).  avgdl is an exact int-sum / count
    division.  Ties break on doc_id.  Every float op replays the join
    formulation's exact sequence, so results are bit-identical to the
    unchanged SQL oracle.
    """
    from airflow_postgres_to_s3_pipeline_spark.cache import tracked_persist

    if stats is None:
        stats = tracked_persist(
            _bm25_doc_stats(table(spark, sf_dir, "documents"))
        )
    return _bm25_rank(stats)


def _bm25_cte_chain() -> str:
    """The tokenize -> tf -> dl -> stats -> idf -> contrib CTE chain of
    the BM25 oracle — single-sourced (r9 review: the hybrid_search_rrf
    oracle carried a verbatim copy, so a formula/constant change had to
    land in three places or silently desynchronize hybrid AND
    rerank_cross_encoder, whose oracle composes hybrid's)."""
    return f"""tok AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split(text, ' '),
                                  x -> len(x) > 0)) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
    ), stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
    ), idf AS (
        SELECT term,
               round(ln((CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                         - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
        FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
        WHERE term IN {BM25_QUERY_TERMS!r}
    ), contrib AS (
        SELECT tf.doc_id,
               CAST(round(idf.idf * (tf.tf * ({BM25_K1} + 1.0))
                          / (tf.tf + {BM25_K1}
                             * (1.0 - {BM25_B}
                                + {BM25_B} * dl.dl / stats.avgdl))
                          * 1000000.0) AS BIGINT) AS c_micro
        FROM tf
        JOIN idf ON tf.term = idf.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
    )"""


_oracle(
    "bm25_scoring",
    f"""
    WITH {_bm25_cte_chain()}
    SELECT doc_id,
           CAST(SUM(c_micro) AS BIGINT) AS bm25_micro,
           CAST(SUM(c_micro) AS DOUBLE) / 1000000.0 AS bm25
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id ASC
    LIMIT {BM25_TOP_N}
    """,
)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Mount, Aiken — SIGMOD 2003)
# ---------------------------------------------------------------------------

WINNOW_K = 8   # k-gram length (chars, over alnum-normalized text)
WINNOW_W = 4   # winnowing window (guarantee: any match >= k+w-1 chars shares
               # at least one selected fingerprint)


def winnow_selected(d: DataFrame, k: int = WINNOW_K,
                    w: int = WINNOW_W) -> DataFrame:
    """(doc_id, text) -> (doc_id, sel: array<long>) of winnowing-selected
    k-gram hashes — the postings a containment-dedup join would shuffle
    on.  Split out so the guarantee (shared >= k+w-1 substring => shared
    fingerprint) is testable on planted documents."""
    norm = F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")
    n_h = F.length("norm") - (k - 1)
    hashes = F.when(
        n_h >= 1,
        F.transform(
            F.sequence(F.lit(1), n_h),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.col("norm").substr(i, F.lit(k)).cast("binary")),
                    1, 15,
                ),
                16, 10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    n_w = F.size("hashes") - (w - 1)
    sel = F.when(
        n_w >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_w),
                lambda j: F.array_min(F.slice(F.col("hashes"), j, w)),
            )
        ),
    ).otherwise(
        F.when(F.size("hashes") > 0, F.array(F.array_min("hashes")))
        .otherwise(F.array().cast("array<long>"))
    )
    return (
        d.select("doc_id", norm.alias("norm"))
        .select("doc_id", hashes.alias("hashes"))
        .select("doc_id", sel.alias("sel"))
    )


def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: hash every k-char gram of the
    alnum-normalized text, then keep the MINIMUM hash of each w-wide
    sliding window — the classic local fingerprinting scheme (MOSS) whose
    guarantee is that any two documents sharing a substring of at least
    ``k + w - 1`` chars share at least one selected fingerprint, while
    storing only ~2/(w+1) of all gram hashes.

    Complements ``doc_fingerprint`` (whole-document md5: exact-dup only)
    with partial-overlap detection; at 100 TB the (fingerprint -> doc)
    postings this emits are the shuffle key for a containment-dedup join,
    exactly like the MinHash band buckets.  Entirely row-local (HOFs over
    per-document arrays, no shuffle, no UDF); hashes are md5-derived so
    DuckDB mirrors them bit-for-bit.  Both sequence() calls carry the
    n>0 guard (Spark walks sequences DESCENDING for negative spans).
    Output: per-doc fingerprint count + order-insensitive XOR checksum
    (int64-exact, unlike a float sum).
    """
    # function-local: dedup imports this module's SQL constants
    from airflow_postgres_to_s3_pipeline_spark.operators.dedup import (
        spread_input,
    )

    # spread the per-gram md5 CPU of a one-file corpus across all cores
    d = spread_input(table(spark, sf_dir, "documents"))
    return winnow_selected(d).select(
            "doc_id",
            F.size("sel").cast("bigint").alias("n_fp"),
            F.aggregate(
                "sel", F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
            ).alias("fp_xor"),
    )


_oracle(
    "winnowing_fingerprint",
    f"""
    WITH nrm AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
        FROM documents
    ), h AS (
        SELECT doc_id,
               CASE WHEN length(norm) >= {WINNOW_K}
                    THEN list_transform(
                         range(1, length(norm) - {WINNOW_K} + 2),
                         i -> ('0x' || substring(
                                   md5(substring(norm, i, {WINNOW_K})),
                                   1, 15))::BIGINT)
                    ELSE [] END AS hashes
        FROM nrm
    ), m AS (
        SELECT doc_id,
               CASE WHEN len(hashes) >= {WINNOW_W}
                    THEN list_distinct(list_transform(
                         range(1, len(hashes) - {WINNOW_W} + 2),
                         j -> list_min(hashes[j:j+{WINNOW_W}-1])))
                    ELSE list_distinct(
                         CASE WHEN len(hashes) > 0
                              THEN [list_min(hashes)] ELSE [] END)
               END AS sel
        FROM h
    )
    SELECT doc_id,
           CAST(len(sel) AS BIGINT) AS n_fp,
           CASE WHEN len(sel) = 0 THEN 0
                ELSE list_reduce(sel, (a, b) -> xor(a, b)) END AS fp_xor
    FROM m
    """,
)


WINNOW_DF_CAP = 5     # drop fingerprints appearing in more than CAP docs
WINNOW_PAIR_MIN = 5   # emit pairs sharing at least MIN surviving fps


def winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection on winnowing fingerprints: explode
    each document's selected fingerprints into a posting list, DROP the
    heavy postings (fingerprints present in more than ``WINNOW_DF_CAP``
    docs — boilerplate phrases, the posting-list analog of stop-words;
    without the cap one common 8-gram fans out into n^2 candidate pairs,
    the classic posting-join blow-up), then pair documents sharing at
    least ``WINNOW_PAIR_MIN`` surviving fingerprints.

    This is the substring-overlap dedup tier the MinHash family cannot
    express: MinHash estimates WHOLE-document Jaccard, while shared
    winnowing fingerprints witness shared SUBSTRINGS (k+w-1 chars or
    longer) — the contamination/quotation/boilerplate shape.  One
    shuffle on the fingerprint key (posting build), one on the pair key
    (count) — both scale-correct; md5-derived fingerprints keep the
    whole chain DuckDB-mirrorable.
    """
    from airflow_postgres_to_s3_pipeline_spark.cache import tracked_persist
    # function-local: dedup imports this module's SQL constants
    from airflow_postgres_to_s3_pipeline_spark.operators.dedup import (
        _array_pairs,
        spread_input,
    )

    d = spread_input(table(spark, sf_dir, "documents"))
    # One materialization barrier, mandatory (the repo-wide
    # unmaterialized-HOF trap): the selected-fingerprint ARRAY must
    # persist BEFORE exploding — with it unmaterialized the whole query
    # ran 341s vs 7.9s at sf0.01 even though a SINGLE pass over the chain
    # costs ~4s (the md5 chain re-evaluated across downstream branches).
    # Released by the harness after the terminal consumer.
    seldf = tracked_persist(winnow_selected(d), corpus=True)
    post = seldf.select("doc_id", F.explode("sel").alias("fp"))
    # Bucket-collapse pair expansion (the r13 lsh_candidate_pairs shape,
    # guide §2.4): ONE collect_list exchange on fp builds each posting
    # list, the df cap becomes a plain size filter (replacing the
    # separate cap aggregate + two kept-joins + posting self-join of the
    # r9-r12 shape), and the C(b,2) expansion is the shared pair kernel
    # (dedup._array_pairs), bounded by the cap.  ``sel`` is
    # array_distinct'ed per doc, so doc_ids are unique within a posting
    # and the sorted i<j expansion equals the join's id_a < id_b pair
    # multiset (parity pinned by the oracle and by test).  Measured at
    # sf0.1 (same-session A/B, min-of-3, persisted inputs): 1.44s ->
    # 0.67s for the pair stage.  The posting frame is consumed once now,
    # so its persist is gone too.
    buckets = post.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    ).filter(F.size("ids") <= WINNOW_DF_CAP)
    return (
        _array_pairs(buckets, "ids", "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_PAIR_MIN)
    )


_oracle(
    "winnowing_dedup",
    f"""
    WITH nrm AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
        FROM documents
    ), h AS (
        SELECT doc_id,
               CASE WHEN length(norm) >= {WINNOW_K}
                    THEN list_transform(
                         range(1, length(norm) - {WINNOW_K} + 2),
                         i -> ('0x' || substring(
                                   md5(substring(norm, i, {WINNOW_K})),
                                   1, 15))::BIGINT)
                    ELSE [] END AS hashes
        FROM nrm
    ), m AS (
        SELECT doc_id,
               CASE WHEN len(hashes) >= {WINNOW_W}
                    THEN list_distinct(list_transform(
                         range(1, len(hashes) - {WINNOW_W} + 2),
                         j -> list_min(hashes[j:j+{WINNOW_W}-1])))
                    ELSE list_distinct(
                         CASE WHEN len(hashes) > 0
                              THEN [list_min(hashes)] ELSE [] END)
               END AS sel
        FROM h
    ), post AS (
        SELECT doc_id, UNNEST(sel) AS fp FROM m
    ), dfq AS (
        SELECT fp, COUNT(*) AS nd FROM post GROUP BY fp
    ), kept AS (
        SELECT fp FROM dfq WHERE nd <= {WINNOW_DF_CAP}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
    FROM post a JOIN kept USING (fp) JOIN post b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WINNOW_PAIR_MIN}
    """,
)


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information over adjacent
    token pairs — the distributional-statistics pass a corpus pipeline
    runs to find multiword expressions (and, inverted, to spot boilerplate
    n-grams worth stripping).

    PMI(a,b) = ln( p(ab) / (p(a) p(b)) ) with p(ab) over the bigram
    stream (B pairs) and p(·) over the token stream (T tokens).
    Determinism: the log is DECOMPOSED — pmi_micro = r(ln c_ab) + 2 r(ln T)
    - r(ln B) - r(ln c_a) - r(ln c_b), each r(·) an integer micro-nat
    (round(ln x * 1e6), the ngram_lm_score pattern), so the combination is
    exact int64 arithmetic, never a product like c_ab*T^2 that would
    overflow int64 at corpus scale (T = 10^12 -> T^2 = 10^24).

    Scale shape: bigrams are built ROW-LOCALLY (zip_with of two slices —
    no self-join, no shuffle), then one count shuffle each for bigrams and
    unigrams, two broadcast joins of the (thin) unigram counts onto the
    surviving bigram counts (AQE broadcasts; at web scale the unigram side
    stays a shuffle join), a 1-row totals broadcast, and a global
    TakeOrderedAndProject for the top-K — no full sort.  The
    PMI_MIN_COUNT filter runs BEFORE the unigram joins, so rare-pair noise
    never reaches the join stage.
    """
    d = table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    base = d.select(words.alias("ws"), F.size(words).alias("nw"))
    bigrams = F.when(
        F.col("nw") >= 2,
        F.zip_with(
            F.slice("ws", F.lit(1), F.col("nw") - 1),
            F.slice("ws", F.lit(2), F.col("nw") - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pair_counts = (
        base.select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    unigrams = (
        base.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    totals = base.agg(
        F.sum("nw").alias("_t"),
        F.sum(F.greatest(F.col("nw") - 1, F.lit(0))).alias("_b"),
    )

    def micro_ln(col):
        return F.round(F.log(col.cast("double")) * 1000000.0).cast("bigint")

    return (
        pair_counts.join(
            unigrams.select(F.col("w").alias("a"),
                            F.col("c_w").alias("c_a")), "a")
        .join(unigrams.select(F.col("w").alias("b"),
                              F.col("c_w").alias("c_b")), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a", "b", "c_ab",
            (
                micro_ln(F.col("c_ab")) + F.lit(2) * micro_ln(F.col("_t"))
                - micro_ln(F.col("_b")) - micro_ln(F.col("c_a"))
                - micro_ln(F.col("c_b"))
            ).alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(PMI_TOP_K)
    )


_oracle(
    "token_pmi_top_pairs",
    f"""
    WITH base AS (
        SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS ws
        FROM documents
    ), pairs AS (
        SELECT ws[i] AS a, ws[i+1] AS b
        FROM base, UNNEST(generate_series(1, GREATEST(len(ws) - 1, 0))) AS t(i)
    ), pair_counts AS (
        SELECT a, b, COUNT(*) AS c_ab FROM pairs GROUP BY a, b
        HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ), unigrams AS (
        SELECT w, COUNT(*) AS c_w
        FROM (SELECT UNNEST(ws) AS w FROM base) GROUP BY w
    ), totals AS (
        SELECT CAST(SUM(len(ws)) AS BIGINT) AS t,
               CAST(SUM(GREATEST(len(ws) - 1, 0)) AS BIGINT) AS b
        FROM base
    )
    SELECT p.a, p.b, p.c_ab,
           CAST(round(ln(CAST(p.c_ab AS DOUBLE)) * 1000000.0) AS BIGINT)
           + 2 * CAST(round(ln(CAST(t.t AS DOUBLE)) * 1000000.0) AS BIGINT)
           - CAST(round(ln(CAST(t.b AS DOUBLE)) * 1000000.0) AS BIGINT)
           - CAST(round(ln(CAST(ua.c_w AS DOUBLE)) * 1000000.0) AS BIGINT)
           - CAST(round(ln(CAST(ub.c_w AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS pmi_micro
    FROM pair_counts p
    JOIN unigrams ua ON ua.w = p.a
    JOIN unigrams ub ON ub.w = p.b
    CROSS JOIN totals t
    ORDER BY pmi_micro DESC, p.a ASC, p.b ASC
    LIMIT {PMI_TOP_K}
    """,
)


RRF_K = 60          # the standard reciprocal-rank-fusion constant
RRF_LIST_LEN = 20   # depth of each retrieval list
RRF_TOP_N = 10      # fused results returned
HASH_DIM = 64       # hashing-trick bucket count for the dense tier


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the RAG-serving
    pattern: a LEXICAL list (the BM25 ranking) and a "DENSE" list
    (inner-product retrieval over hashing-trick bag-of-words vectors)
    are fused by rrf(d) = sum over lists of 1/(K + rank_d).

    The dense tier is honest about what the container can build: with no
    text-embedding model available, doc vectors are tf-weighted md5-hash
    buckets (the hashing trick — a real degenerate dense retriever), and
    scoring is an INTEGER dot product computed row-locally (per-token
    lookup of the <=3 query-bucket counts, summed inside the scan): no
    norms, no floats, so the ranking key is exact int64.  A production
    deployment swaps in real embeddings + the knn_* tiers; every
    downstream stage (per-list ranking, fusion arithmetic, tie-breaks)
    is identical.

    Determinism: both lists rank by (score desc, doc_id); RRF is summed
    integer micro-points 1_000_000 div (K + rank).  Scale shape: the two
    lists are TakeOrderedAndProject top-20s; ranks are row_numbered on
    the already-truncated 20-row frames (constant-size window input —
    never a global window over the corpus); the fusion is a full outer
    join of two 20-row frames.
    """
    from airflow_postgres_to_s3_pipeline_spark.cache import tracked_persist

    d = table(spark, sf_dir, "documents")
    # ONE row-local tokenize pass shared by both tiers (r13 optimization,
    # guide §2.4/§8): per-doc (dl, query-term tfs, dense dot) are computed
    # inside the scan; the thin stats frame is persisted for its three
    # consumers (stats aggregate, lexical scan, dense scan).  The r5-r12
    # shape shuffled the full (doc_id, term, tf) table once for the
    # persisted tf frame and again for the (doc_id, bucket) dense
    # aggregation; the dense dot regroups exactly because it is an
    # integer sum (dv * qv = per-token query-bucket hits).
    stats = tracked_persist(_bm25_doc_stats(d, with_dot=True))
    dense = (
        stats.filter(F.col("dot") > 0)
        .select("doc_id", "dot")
        .orderBy(F.col("dot").desc(), F.col("doc_id").asc())
        .limit(RRF_LIST_LEN)
    )
    lex = bm25_scoring(spark, sf_dir, stats=stats).select(
        "doc_id", "bm25_micro"
    )

    def ranked(df, score, name):
        w = Window.orderBy(F.col(score).desc(), F.col("doc_id").asc())
        return df.select(
            "doc_id", F.row_number().over(w).alias(name)
        )

    fused = ranked(lex, "bm25_micro", "lex_rank").join(
        ranked(dense, "dot", "dense_rank"), "doc_id", "full_outer"
    )
    rrf = (
        F.when(
            F.col("lex_rank").isNotNull(),
            F.expr(f"1000000 div ({RRF_K} + lex_rank)"),
        ).otherwise(F.lit(0))
        + F.when(
            F.col("dense_rank").isNotNull(),
            F.expr(f"1000000 div ({RRF_K} + dense_rank)"),
        ).otherwise(F.lit(0))
    ).cast("long")
    return (
        fused.select("doc_id", "lex_rank", "dense_rank",
                     rrf.alias("rrf_micro"))
        .orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP_N)
    )


_oracle(
    "hybrid_search_rrf",
    f"""
    WITH {_bm25_cte_chain()}, lex_top AS (
        SELECT doc_id, CAST(SUM(c_micro) AS BIGINT) AS bm25_micro
        FROM contrib GROUP BY doc_id
        ORDER BY bm25_micro DESC, doc_id ASC
        LIMIT {BM25_TOP_N}
    ), lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id ASC)
                   AS lex_rank
        FROM lex_top
    ), doc_buckets AS (
        SELECT doc_id,
               ('0x' || substring(md5(term), 1, 15))::BIGINT % {HASH_DIM}
                   AS b,
               CAST(SUM(tf) AS BIGINT) AS dv
        FROM tf GROUP BY 1, 2
    ), qb AS (
        SELECT ('0x' || substring(md5(t.term), 1, 15))::BIGINT % {HASH_DIM}
                   AS b,
               COUNT(*) AS qv
        FROM (SELECT UNNEST({list(BM25_QUERY_TERMS)!r}) AS term) t
        GROUP BY 1
    ), dense_top AS (
        SELECT doc_id, CAST(SUM(dv * qv) AS BIGINT) AS dot
        FROM doc_buckets JOIN qb USING (b)
        GROUP BY doc_id
        ORDER BY dot DESC, doc_id ASC
        LIMIT {RRF_LIST_LEN}
    ), dense AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id ASC)
                   AS dense_rank
        FROM dense_top
    )
    SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
           CAST(l.lex_rank AS INTEGER) AS lex_rank,
           CAST(de.dense_rank AS INTEGER) AS dense_rank,
           CAST(COALESCE(1000000 // ({RRF_K} + l.lex_rank), 0)
                + COALESCE(1000000 // ({RRF_K} + de.dense_rank), 0)
                AS BIGINT) AS rrf_micro
    FROM lex l FULL OUTER JOIN dense de USING (doc_id)
    ORDER BY rrf_micro DESC, COALESCE(l.doc_id, de.doc_id) ASC
    LIMIT {RRF_TOP_N}
    """,
)


RERANK_PROX_MICRO = 1_000_000   # proximity micro-points per term pair
RERANK_COVER_PTS = 10_000_000   # per-query-term coverage step (dominates)


def rerank_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rerank stage over ``hybrid_search_rrf``'s fused top-N — completing
    the production retrieval cascade: cheap retrievers nominate, a
    per-(query, document) scorer that sees BOTH texts re-orders the
    short slate.  The real thing is a cross-encoder transformer; with no
    model runtime in this container, the stand-in is a deterministic
    lexical interaction scorer with the IDENTICAL serving shape — an
    Arrow-batched pandas UDF over the candidate slate (exactly how an
    ONNX/torch scorer is served from executors; swap the closure body,
    keep the plan).

    Score (integer-exact): coverage * 10^7 + proximity, where coverage
    counts query terms present in the document and proximity sums
    ``10^6 div (1 + min token distance)`` over query-term pairs — the
    minimal-span interaction signal bi-encoders can't see (they score
    each side independently; term ADJACENCY across the pair is exactly
    what a cross-encoder's attention adds).  Ties fall back to the
    upstream rrf_micro, then doc_id.

    Scale shape: the slate is RRF_TOP_N rows per query — the rerank
    join broadcasts it against the corpus scan (one map-side pass
    fetches the texts; no corpus shuffle), the UDF scores O(slate) rows,
    and the final rank is a window over the constant-size slate.  Cost
    is independent of corpus size by construction, which is why serving
    stacks can afford a 100x-costlier scorer HERE but not in retrieval.
    """
    from pyspark.sql.functions import pandas_udf

    terms = list(BM25_QUERY_TERMS)

    cand = hybrid_search_rrf(spark, sf_dir).select("doc_id", "rrf_micro")
    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    @pandas_udf("long")
    def ce_score(text: pd.Series) -> pd.Series:
        def score(t: str) -> int:
            ws = [w for w in t.split(" ") if w]
            pos = {
                q: [i + 1 for i, w in enumerate(ws) if w == q]
                for q in terms
            }
            cover = sum(1 for q in terms if pos[q])
            prox = 0
            for i in range(len(terms)):
                for j in range(i + 1, len(terms)):
                    pa, pb = pos[terms[i]], pos[terms[j]]
                    if pa and pb:
                        dmin = min(abs(a - b) for a in pa for b in pb)
                        prox += RERANK_PROX_MICRO // (1 + dmin)
            return cover * RERANK_COVER_PTS + prox

        return text.map(score)

    w = Window.orderBy(
        F.col("ce_score").desc(), F.col("rrf_micro").desc(),
        F.col("doc_id").asc()
    )
    return (
        d.join(F.broadcast(cand), "doc_id")
        .select("doc_id", "rrf_micro", ce_score(F.col("text")).alias("ce_score"))
        .withColumn("ce_rank", F.row_number().over(w))
    )


def _rerank_oracle() -> str:
    """Mirror: the full hybrid-RRF oracle as the slate CTE, then the
    interaction score in DuckDB list HOFs — 1-based positions over the
    same empty-filtered whitespace tokens, integer division, identical
    tie order."""
    pos_cols = ",\n               ".join(
        f"list_filter(range(1, len(ws) + 1), i -> ws[i] = '{t}') AS p{k}"
        for k, t in enumerate(BM25_QUERY_TERMS)
    )
    n = len(BM25_QUERY_TERMS)
    cover = " + ".join(
        f"(CASE WHEN len(p{k}) > 0 THEN 1 ELSE 0 END)" for k in range(n)
    )
    prox_terms = []
    for i in range(n):
        for j in range(i + 1, n):
            mindist = (
                f"list_min(flatten(list_transform(p{i}, a -> "
                f"list_transform(p{j}, b -> abs(a - b)))))"
            )
            prox_terms.append(
                f"(CASE WHEN len(p{i}) > 0 AND len(p{j}) > 0 "
                f"THEN {RERANK_PROX_MICRO} // (1 + {mindist}) ELSE 0 END)"
            )
    prox = " + ".join(prox_terms)
    return f"""
    WITH fused AS (
        {ORACLES["hybrid_search_rrf"]}
    ), toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
        FROM documents
    ), pos AS (
        SELECT f.doc_id, f.rrf_micro,
               {pos_cols}
        FROM fused f JOIN toks USING (doc_id)
    ), scored AS (
        SELECT doc_id, rrf_micro,
               CAST(({cover}) * {RERANK_COVER_PTS} + {prox} AS BIGINT)
                   AS ce_score
        FROM pos
    )
    SELECT doc_id, rrf_micro, ce_score,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ce_score DESC, rrf_micro DESC, doc_id ASC
           ) AS INT) AS ce_rank
    FROM scored
    """


_oracle("rerank_cross_encoder", _rerank_oracle())


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law) curve — tokenizer / corpus planning
# ---------------------------------------------------------------------------

VOCAB_BUCKETS = 10


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth across the corpus in doc_id order: per decile,
    how many NEW word types appear and the cumulative vocabulary size —
    the Heaps'-law curve a tokenizer-training budget is planned against
    (does vocab saturate, or is more data still adding types?).

    Distributed shape for "cumulative distinct", which has no direct
    shuffle-friendly form: each type's FIRST bucket is min(bucket) per
    token — one groupBy on the token (the only corpus-sized shuffle) —
    after which new-type counts per bucket and the running totals live
    on a <= VOCAB_BUCKETS-row frame.  The doc_id -> bucket mapping uses
    a broadcast 1-row MAX(doc_id) aggregate (scalar collection
    statistic, the scalar_subquery_threshold shape) and integer DIV so
    both engines bucket identically at any id magnitude.  The final
    cumulative sums run on the bucket frame only — a bounded
    (<= VOCAB_BUCKETS rows) global window, whitelisted with that bound
    in the plan lint.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = d.agg(F.max("doc_id").alias("_mx"))
    bucketed = (
        d.crossJoin(F.broadcast(mx))
        .select(
            F.expr(
                f"CAST((doc_id * {VOCAB_BUCKETS}) DIV (_mx + 1) AS INT)"
            ).alias("bucket"),
            "text",
        )
    )
    toks = bucketed.select(
        "bucket", F.explode(F.split("text", " ")).alias("tok")
    )
    per_bucket_tokens = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("distinct_in_bucket"),
    )
    first_seen = toks.groupBy("tok").agg(F.min("bucket").alias("fb"))
    new_types = first_seen.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_bucket_tokens.join(new_types, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            "distinct_in_bucket",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn("vocab_size", F.sum("new_types").over(w))
    )


_oracle(
    "vocab_growth_curve",
    f"""
    WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
    b AS (
        SELECT CAST((doc_id * {VOCAB_BUCKETS}) // (m + 1) AS INTEGER)
                   AS bucket,
               text
        FROM documents, mx
    ), toks AS (
        SELECT bucket, UNNEST(str_split(text, ' ')) AS tok FROM b
    ), pb AS (
        SELECT bucket, COUNT(*) AS n_tokens,
               COUNT(DISTINCT tok) AS distinct_in_bucket
        FROM toks GROUP BY bucket
    ), fs AS (
        SELECT tok, MIN(bucket) AS fb FROM toks GROUP BY tok
    ), nt AS (
        SELECT fb AS bucket, COUNT(*) AS new_types FROM fs GROUP BY fb
    )
    SELECT pb.bucket, pb.n_tokens, pb.distinct_in_bucket,
           COALESCE(nt.new_types, 0) AS new_types,
           CAST(SUM(pb.n_tokens) OVER (
               ORDER BY pb.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(nt.new_types, 0)) OVER (
               ORDER BY pb.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS vocab_size
    FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket
    """,
)


# ---------------------------------------------------------------------------
# Per-document n-gram novelty — the "is this doc adding new content?"
# curation signal (memorization/informativeness screening)
# ---------------------------------------------------------------------------

NOVELTY_K = 3


def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty against everything EARLIER in the corpus
    (doc_id order): the fraction of the doc's distinct k-grams whose
    first corpus occurrence is this document.

    A doc full of grams already seen in earlier docs is redundant even
    when no single pair crosses a near-dup threshold — the long-tail
    aggregate-duplication case Lee et al. flag, and the admission signal
    incremental corpus construction sorts on.  Shape: distinct (doc,
    gram) pairs row-local, then ONE shuffle on the gram hash to find
    each gram's min doc_id, then a doc-keyed count — no pairwise
    comparisons anywhere, so cost is linear in corpus grams at 100 TB.
    novelty_ppm is an exact integer (1e6-scaled floor division), so the
    output is bit-stable cross-engine.

    Output: (doc_id, n_distinct_grams, n_novel_grams, novelty_ppm) for
    every doc with >= NOVELTY_K tokens.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n_grams = F.size("toks") - F.lit(NOVELTY_K - 1)
    # r13 optimization (guide §2.4): per-doc gram dedup is ROW-LOCAL
    # (array_distinct before the explode), so the old corpus-wide
    # `.distinct()` exchange on (doc_id, gh) disappears; each gram's
    # first_doc is a window MIN on the gh exchange itself instead of a
    # separate aggregate + gram-frame re-join (one exchange + one join
    # removed — 3 exchanges + SMJ -> 2 exchanges).
    grams = (
        docs.filter(F.size("toks") >= NOVELTY_K)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), n_grams - 1),
                        lambda i: F.md5(
                            F.concat_ws(" ", F.slice("toks", i + 1, NOVELTY_K))
                        ),
                    )
                )
            ).alias("gh"),
        )
    )
    wg = Window.partitionBy("gh")
    per_doc = (
        grams.withColumn("first_doc", F.min("doc_id").over(wg))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            ).alias("n_novel_grams"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_distinct_grams",
        "n_novel_grams",
        F.expr(
            "CAST((n_novel_grams * 1000000) DIV n_distinct_grams AS BIGINT)"
        ).alias("novelty_ppm"),
    )


_oracle(
    "ngram_novelty_score",
    f"""
    WITH t AS (
        SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(toks[i + 1 : i + {NOVELTY_K}], ' ')) AS gh
        FROM t, UNNEST(generate_series(0, len(toks) - {NOVELTY_K})) AS u(i)
        WHERE len(toks) >= {NOVELTY_K}
    ), f AS (
        SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh
    ), p AS (
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
               CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel_grams
        FROM g JOIN f ON g.gh = f.gh
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_distinct_grams, n_novel_grams,
           CAST((n_novel_grams * 1000000) // n_distinct_grams AS BIGINT)
               AS novelty_ppm
    FROM p
    """,
)
