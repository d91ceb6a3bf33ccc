"""Repetition-based quality signals for training-data curation.

The Gopher/MassiveText-style repetition filters (Rae et al. 2021,
"Scaling Language Models", table A1 — public paper): documents whose
content is dominated by repeated n-grams are boilerplate/spam and get
dropped before pre-training. Reference parity: the reference engine's
curation surface is row-level SQL over ingested tables
(flink/jobs/flink_json_to_iceberg.py:100-150); these signals extend it
with the corpus-curation operators a 100 TB text pipeline needs.

Plan shape (the part that must survive 1000 executors): tokenization
and bigram construction are per-row projections (no shuffle); the
bigram histogram is a two-level groupBy on (doc_id, bigram) → doc_id —
both keys start with doc_id, so AQE coalesces the second shuffle over
the first's partitioning, and partial aggregation combines map-side.
No driver-side state, no broadcast of anything corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import spread, spread_range
from flink_stream_spark.operators.registry import register


@register(
    "text_repetition_signals",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tok AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(list_distinct(t)) AS n_distinct
      FROM toks),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
      FROM toks),
    big AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg FROM idx),
    bgc AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
    rep AS (
      SELECT doc_id,
             SUM(c) AS total_bg,
             SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_bg,
             MAX(c) AS top_bg
      FROM bgc GROUP BY doc_id)
    SELECT tok.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS DOUBLE)
             AS distinct_token_ratio,
           CAST(ROUND(CAST(dup_bg AS DOUBLE) / total_bg, 6) AS DOUBLE)
             AS dup_bigram_frac,
           CAST(ROUND(CAST(top_bg AS DOUBLE) / total_bg, 6) AS DOUBLE)
             AS top_bigram_frac,
           CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3
                 AND CAST(dup_bg AS DOUBLE) / total_bg <= 0.2
                THEN 1 ELSE 0 END AS repetition_pass
    FROM tok JOIN rep ON tok.doc_id = rep.doc_id
    ORDER BY tok.doc_id
    """,
    group="text",
    doc="Gopher-style repetition filters: distinct-token ratio, "
    "duplicate-bigram instance fraction, and top-bigram dominance per "
    "document, with the composite pass flag (ratio >= 0.3, dup frac "
    "<= 0.2). Ratios are integer-count quotients, so both engines "
    "divide the same exact integers. Bigram list is gated on "
    "n_tokens >= 2: Spark sequence(0, -1) would yield [0, -1], not "
    "empty (the short-doc trap from the shingle oracle).",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n = F.size("t")
    tok = base.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("bigint").alias("n_distinct"),
    )
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.col("t")[i], F.col("t")[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode_outer + filter, not explode: plain explode makes Catalyst
    # infer size(bigrams)>0 and recompute the whole expression below the
    # exchange (InferFiltersFromGenerate).
    big = base.select("doc_id", F.explode_outer(bigrams).alias("bg")).filter(
        F.col("bg").isNotNull()
    )
    rep = (
        big.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("total_bg"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup_bg"),
            F.max("c").alias("top_bg"),
        )
    )
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    dup_frac = F.col("dup_bg").cast("double") / F.col("total_bg")
    return (
        tok.join(rep, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
            F.round(dup_frac, 6).alias("dup_bigram_frac"),
            F.round(F.col("top_bg").cast("double") / F.col("total_bg"), 6).alias(
                "top_bigram_frac"
            ),
            F.when((distinct_ratio >= 0.3) & (dup_frac <= 0.2), 1)
            .otherwise(0)
            .alias("repetition_pass"),
        )
        .orderBy("doc_id")
    )


@register(
    "quality_classifier_score",
    """
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
             CAST(length(text) - length(replace(replace(text, '.', ''), ',', ''))
                  AS BIGINT) AS n_punct,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_digits,
             CAST((length(text) - length(replace(lower(text), ' the ', ''))) // 5
                  AS BIGINT) AS n_stop
      FROM documents),
    ppm AS (
      SELECT doc_id, n_chars,
             (1000000 * n_spaces) // greatest(n_chars, 1) AS space_ppm,
             (1000000 * n_punct) // greatest(n_chars, 1) AS punct_ppm,
             (1000000 * n_digits) // greatest(n_chars, 1) AS digit_ppm,
             (1000000 * n_stop) // greatest(n_chars, 1) AS stop_ppm
      FROM feats)
    SELECT doc_id,
           CAST(2 * space_ppm + 40 * stop_ppm + 8 * punct_ppm
                - 12 * digit_ppm + least(n_chars, 2000) * 100 - 400000
                AS BIGINT) AS logit_scaled,
           CAST(2 * space_ppm + 40 * stop_ppm + 8 * punct_ppm
                - 12 * digit_ppm + least(n_chars, 2000) * 100 - 400000 > 0
                AS BOOLEAN) AS keep
    FROM ppm
    ORDER BY doc_id
    """,
    group="text",
    doc="fastText-style quality-classifier inference as a pure scan "
    "projection: engineered features (whitespace / punctuation / digit "
    "/ stopword rates, length cap) combined under fixed integer "
    "weights into a scaled logit, thresholded to a keep flag. The "
    "sigmoid is monotone, so thresholding the logit is exact and the "
    "whole filter stays in whole-stage codegen — no model server, no "
    "UDF, no shuffle: the 100 TB posture is a map-only scan. Weights "
    "stand in for a trained linear model's (swap-in point documented).",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("bigint")
    n_spaces = (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))).cast("bigint")
    n_punct = (
        F.length("text")
        - F.length(F.replace(F.replace(F.col("text"), F.lit(".")), F.lit(",")))
    ).cast("bigint")
    n_digits = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ).cast("bigint")
    n_stop = F.expr(
        "CAST((length(text) - length(replace(lower(text), ' the ', ''))) div 5 AS BIGINT)"
    )
    feats = d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_spaces.alias("n_spaces"),
        n_punct.alias("n_punct"),
        n_digits.alias("n_digits"),
        n_stop.alias("n_stop"),
    )
    ppm = feats.select(
        "doc_id",
        "n_chars",
        F.expr("(1000000 * n_spaces) div greatest(n_chars, 1)").alias("space_ppm"),
        F.expr("(1000000 * n_punct) div greatest(n_chars, 1)").alias("punct_ppm"),
        F.expr("(1000000 * n_digits) div greatest(n_chars, 1)").alias("digit_ppm"),
        F.expr("(1000000 * n_stop) div greatest(n_chars, 1)").alias("stop_ppm"),
    )
    logit = (
        2 * F.col("space_ppm")
        + 40 * F.col("stop_ppm")
        + 8 * F.col("punct_ppm")
        - 12 * F.col("digit_ppm")
        + F.least(F.col("n_chars"), F.lit(2000)) * 100
        - 400_000
    ).cast("bigint")
    return (
        ppm.select("doc_id", logit.alias("logit_scaled"), (logit > 0).alias("keep"))
        .orderBy("doc_id")
    )


# Gopher rule battery (Rae et al. 2021, table A1 — public paper).
# Thresholds are the paper's; exact-integer comparisons (k·count vs
# k·count) so both engines compare identical integers, never floats.
# the paper uses English stopwords {the, be, to, of, and, that, have,
# with}; the list is a config knob — here it is the fixture corpus's
# highest-frequency function tokens so the rule discriminates on the
# synthetic vocabulary instead of failing every document.
GOPHER_STOPWORDS = ("scan", "column", "window", "order", "sort", "agg", "join", "group")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_score(d: DataFrame) -> DataFrame:
    """The Gopher rule battery as a pure map-only projection over any
    (doc_id, text) frame — shared by the batch query below and the
    streaming twin (streaming/scoring.py): stateless, so it applies to
    a stream unchanged (no watermark, no state store)."""
    ts = F.split("text", " ")
    n_spaces = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))
    ).cast("bigint")
    feats = d.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("n_tokens"),
        (F.length("text").cast("bigint") - n_spaces).alias("sum_tok_len"),
        sum(
            F.array_contains(ts, w).cast("int") for w in GOPHER_STOPWORDS
        ).cast("bigint").alias("n_stopwords"),
        F.size(F.filter(ts, lambda t: t.rlike("[a-zA-Z]")))
        .cast("bigint")
        .alias("n_alpha_words"),
        (
            F.length("text")
            - F.length(
                F.replace(
                    F.replace(F.col("text"), F.lit("#")), F.lit("...")
                )
            )
        )
        .cast("bigint")
        .alias("n_symbol_chars"),
    )
    rules = feats.select(
        "doc_id",
        "n_tokens",
        F.col("n_tokens").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).alias(
            "rule_word_count"
        ),
        F.col("sum_tok_len")
        .between(3 * F.col("n_tokens"), 10 * F.col("n_tokens"))
        .alias("rule_mean_word_len"),
        (F.col("n_stopwords") >= 2).alias("rule_stopwords"),
        (5 * F.col("n_alpha_words") >= 4 * F.col("n_tokens")).alias(
            "rule_alpha_frac"
        ),
        (10 * F.col("n_symbol_chars") <= F.col("n_tokens")).alias(
            "rule_symbol_ratio"
        ),
    )
    fail_mask = (
        F.when(F.col("rule_word_count"), 0).otherwise(1)
        + F.when(F.col("rule_mean_word_len"), 0).otherwise(2)
        + F.when(F.col("rule_stopwords"), 0).otherwise(4)
        + F.when(F.col("rule_alpha_frac"), 0).otherwise(8)
        + F.when(F.col("rule_symbol_ratio"), 0).otherwise(16)
    ).cast("int")
    return rules.select(
        "doc_id",
        "n_tokens",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_stopwords",
        "rule_alpha_frac",
        "rule_symbol_ratio",
        fail_mask.alias("fail_mask"),
        (
            F.col("rule_word_count")
            & F.col("rule_mean_word_len")
            & F.col("rule_stopwords")
            & F.col("rule_alpha_frac")
            & F.col("rule_symbol_ratio")
        ).alias("gopher_pass"),
    )


@register(
    "quality_gopher_rules",
    f"""
    WITH toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS ts,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
               AS n_spaces
      FROM documents),
    feats AS (
      SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) - n_spaces AS sum_tok_len,
             CAST({' + '.join(f"CASE WHEN list_contains(ts, '{w}') THEN 1 ELSE 0 END" for w in GOPHER_STOPWORDS)}
                  AS BIGINT) AS n_stopwords,
             CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-zA-Z]')))
                  AS BIGINT) AS n_alpha_words,
             CAST(length(text) - length(replace(replace(text, '#', ''), '...', ''))
                  AS BIGINT) AS n_symbol_chars
      FROM toks),
    rules AS (
      SELECT doc_id, n_tokens,
             n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS rule_word_count,
             sum_tok_len BETWEEN 3 * n_tokens AND 10 * n_tokens AS rule_mean_word_len,
             n_stopwords >= 2 AS rule_stopwords,
             5 * n_alpha_words >= 4 * n_tokens AS rule_alpha_frac,
             10 * n_symbol_chars <= n_tokens AS rule_symbol_ratio
      FROM feats)
    SELECT doc_id, n_tokens,
           rule_word_count, rule_mean_word_len, rule_stopwords,
           rule_alpha_frac, rule_symbol_ratio,
           CAST(CASE WHEN rule_word_count THEN 0 ELSE 1 END
              + CASE WHEN rule_mean_word_len THEN 0 ELSE 2 END
              + CASE WHEN rule_stopwords THEN 0 ELSE 4 END
              + CASE WHEN rule_alpha_frac THEN 0 ELSE 8 END
              + CASE WHEN rule_symbol_ratio THEN 0 ELSE 16 END AS INT)
             AS fail_mask,
           rule_word_count AND rule_mean_word_len AND rule_stopwords
             AND rule_alpha_frac AND rule_symbol_ratio AS gopher_pass
    FROM rules
    ORDER BY doc_id
    """,
    group="text",
    doc="Gopher document-level hard-filter battery (Rae et al. 2021 "
    "table A1): word-count bounds, mean-word-length in [3,10], >= 2 "
    "distinct required stopwords present, >= 80% words containing an "
    "alphabetic character, symbol('#'/'...')-to-word ratio <= 0.1. "
    "Emits each rule verdict, a fail-reason bitmask, and the composite "
    "pass flag. All thresholds compare scaled integers (5*n_alpha >= "
    "4*n), never floats, so engines agree exactly. Scale: a pure "
    "map-only scan projection — no shuffle, no UDF; everything except "
    "the alpha-word HOF stays in whole-stage codegen, and the HOF is "
    "per-row bounded by tokens-per-doc.",
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # one fused exchange, two jobs: RANGE-partitioning on doc_id spreads
    # the per-token HOF/regex work across every core (the compressed
    # fixture file arrives as 1-2 input splits — text.py:181 trap), and
    # a partition-local sort then yields the totally-ordered result
    # without a second global sort exchange of the scored rows.
    return gopher_score(spread_range(d, "doc_id")).sortWithinPartitions(
        "doc_id"
    )


@register(
    "quality_mad_outliers",
    """
    WITH t AS (
      SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
      FROM documents),
    m AS (SELECT source, quantile_cont(x, 0.5) AS med FROM t GROUP BY source),
    a AS (
      SELECT t.source, t.x, abs(t.x - m.med) AS ad, m.med
      FROM t JOIN m USING (source)),
    md AS (
      SELECT source, quantile_cont(ad, 0.5) AS mad, MIN(med) AS med
      FROM a GROUP BY source)
    SELECT a.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(md.med, 6) AS DOUBLE) AS median_tokens,
           CAST(ROUND(md.mad, 6) AS DOUBLE) AS mad_tokens,
           CAST(SUM(CASE WHEN md.mad > 0 AND a.ad > 3 * md.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(ROUND(CAST(SUM(CASE WHEN md.mad > 0 AND a.ad > 3 * md.mad
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS outlier_frac
    FROM a JOIN md USING (source)
    GROUP BY a.source, md.med, md.mad
    ORDER BY a.source
    """,
    group="text",
    doc="Robust per-source quality calibration: per source, the exact "
    "interpolated MEDIAN token count and MAD (median absolute "
    "deviation), and the count of robust-z outliers (|x − median| > "
    "3·MAD, skipped when MAD = 0) — the per-domain calibration step a "
    "curation pipeline runs so one verbose domain's length "
    "distribution doesn't set the global filter threshold (median/MAD "
    "because mean/stddev are themselves dragged by the outliers being "
    "hunted). Exactness: both engines interpolate percentiles of "
    "exact integers in float64 and compare the same float products, "
    "so verdicts agree bit-for-bit. Scale: two aggregate passes plus "
    "one flagging join, all keyed on source (map-side partial "
    "combine); per-source medians are exact percentile AGGREGATES, "
    "never a global sort; the per-source stat table is tiny and "
    "broadcast back for flagging.",
)
def quality_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.size(F.split("text", " ")).cast("bigint").alias("x")
    )
    med = t.groupBy("source").agg(F.expr("percentile(x, 0.5D)").alias("med"))
    a = t.join(F.broadcast(med), "source").withColumn(
        "ad", F.abs(F.col("x") - F.col("med"))
    )
    md = a.groupBy("source").agg(
        F.expr("percentile(ad, 0.5D)").alias("mad"), F.min("med").alias("med")
    )
    out_flag = (F.col("mad") > 0) & (F.col("ad") > 3 * F.col("mad"))
    return (
        a.drop("med")
        .join(F.broadcast(md), "source")
        .groupBy("source", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(out_flag.cast("int")).cast("bigint").alias("n_outliers"),
        )
        .select(
            "source",
            "n_docs",
            F.round("med", 6).alias("median_tokens"),
            F.round("mad", 6).alias("mad_tokens"),
            "n_outliers",
            F.round(
                F.col("n_outliers").cast("double") / F.col("n_docs"), 6
            ).alias("outlier_frac"),
        )
        .orderBy("source")
    )
