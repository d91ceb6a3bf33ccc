"""Text analysis for training-data pipelines (SURVEY §2C NS rows).

Language-ID, quality scoring, token counting and document
fingerprinting over the `documents` table — all pure
pyspark.sql.functions plans (JVM-side, whole-stage codegen; no Python
in the hot path), each with an exact DuckDB oracle.

Cross-engine hash parity trick: a token's 64-bit-ish hash is the
first 15 hex digits of md5 (identical in Spark and DuckDB), parsed as
an integer — Spark ``conv(hex,16,10)``, DuckDB ``CAST('0x'||hex AS
BIGINT)``. 15 hex digits = 60 bits, safely inside BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import sorted_result, spread, spread_range
from flink_stream_spark.operators.registry import register

# tiny per-language function-word lists for the n-gram/stopword
# language-ID heuristic (public common-word lists)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

_MOD = 1_000_000_007


def _tok_hash_spark(col):
    """Deterministic 60-bit token hash (md5-prefix), Spark side."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def tok_hash_duck(expr: str) -> str:
    """Same hash, DuckDB side."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


@register(
    "text_stats_quality",
    """
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
           CAST(ROUND(CAST(LENGTH(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS DOUBLE) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stopwords,
           CAST(ROUND(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                / len(string_split(text, ' ')), 6) AS DOUBLE) AS stopword_ratio,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80
                 AND CAST(LENGTH(text) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3 AND 8
                THEN 1 ELSE 0 END AS quality_pass
    FROM documents
    ORDER BY doc_id
    """,
    group="text",
    doc="Quality scoring: length/token/stopword-ratio filters — the "
    "standard pre-training heuristic filter set.",
)
def text_stats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))
    n_toks = F.size(toks).cast("bigint")
    chars = F.length("text").cast("bigint")
    avg_tok = (chars.cast("double") / n_toks).cast("double")
    return d.select(
        "doc_id",
        chars.alias("chars"),
        n_toks.alias("tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.size(stop).cast("bigint").alias("n_stopwords"),
        F.round(F.size(stop).cast("double") / n_toks, 6).alias("stopword_ratio"),
        F.when(n_toks.between(20, 80) & avg_tok.between(3, 8), 1).otherwise(0).alias(
            "quality_pass"
        ),
    ).orderBy("doc_id")


@register(
    "text_lang_id",
    """
    WITH scores AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to'))) AS s_en,
             len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','des'))) AS s_fr,
             len(list_filter(string_split(text, ' '), t -> t IN ('el','la','los','que','de'))) AS s_es,
             len(list_filter(string_split(text, ' '), t -> t IN ('der','die','und','das','ein'))) AS s_de
      FROM documents)
    SELECT doc_id,
           CASE GREATEST(s_en, s_fr, s_es, s_de)
                WHEN s_en THEN 'en' WHEN s_fr THEN 'fr'
                WHEN s_es THEN 'es' ELSE 'de' END AS pred_lang,
           CAST(GREATEST(s_en, s_fr, s_es, s_de) AS BIGINT) AS marker_hits
    FROM scores
    ORDER BY doc_id
    """,
    group="text",
    doc="Stopword-overlap language ID (n-gram heuristic family); "
    "ties resolve in fixed language order en>fr>es>de.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    def _marker_count(ws):
        return F.size(F.filter(toks, lambda t: t.isin(*ws)))

    scores = d.select(
        "doc_id",
        *[
            _marker_count(ws).alias(f"s_{lang}")
            for lang, ws in LANG_MARKERS.items()
            if lang != "zh"
        ],
    )
    best = F.greatest("s_en", "s_fr", "s_es", "s_de")
    pred = (
        F.when(F.col("s_en") == best, "en")
        .when(F.col("s_fr") == best, "fr")
        .when(F.col("s_es") == best, "es")
        .otherwise("de")
    )
    return scores.select(
        "doc_id", pred.alias("pred_lang"), best.cast("bigint").alias("marker_hits")
    ).orderBy("doc_id")


@register(
    "text_token_count_bpe",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
           CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS vowel_runs
    FROM documents
    ORDER BY doc_id
    """,
    group="text",
    doc="Token counting: whitespace + BPE-ish regex segmentation "
    "(letters / digits / single punctuation).",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("bigint")
        .alias("bpe_ish_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[aeiou]+', 0)"))
        .cast("bigint")
        .alias("vowel_runs"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              t -> {tok_hash_duck('t')} % {_MOD})),
             (acc, h) -> (acc * 31 + h) % {_MOD}) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    group="text",
    doc="Order-sensitive document fingerprint: polynomial rolling hash "
    "over md5-derived token hashes mod 1e9+7 — exact integer "
    "arithmetic, bit-identical across engines.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # one fused exchange does double duty: RANGE-partitioning on doc_id
    # spreads the per-token md5 fold across every core (a small
    # compressed parquet file arrives as ONE input split — same fix as
    # dedup.shingled_docs), and because range partitions are ordered,
    # a partition-LOCAL sort after the fold yields the totally-ordered
    # result the determinism contract requires (FIXTURES.md) without a
    # second, global sort exchange of the folded rows
    d = spread_range(d, "doc_id")
    tok_hashes = F.transform(F.split("text", " "), lambda t: _tok_hash_spark(t) % _MOD)
    fp = F.aggregate(
        tok_hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % _MOD,
    )
    return d.select("doc_id", fp.alias("fingerprint")).sortWithinPartitions("doc_id")


# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# algorithm): slide a window of WINNOW_W consecutive k-gram hashes and
# select each window's minimum (rightmost on ties); the selected set is
# a position-robust document fingerprint with a guaranteed detection
# threshold. The rightmost-tie argmin inside a running window frame is
# not directly expressible as one window function, so the (hash, pos)
# pair is packed into ONE integer key = h' * 2^20 + (2^20 - 1 - i):
# minimizing the key minimizes the hash and, on ties, maximizes the
# position — MIN() over the frame then decodes to the selected
# position with exact integer arithmetic in both engines.
WINNOW_K = 4  # tokens per gram
WINNOW_W = 4  # grams per window
_WIN_POS = 1 << 20  # > max grams/doc; packs position into the key
_WIN_HMOD = 1 << 40  # hash reduced so key = h*2^20 + pos stays < 2^63


@register(
    "text_winnowing_fingerprints",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    stats AS (SELECT doc_id, greatest(len(ts) - {WINNOW_K} + 1, 0) AS n_grams
              FROM toks),
    pos AS (
      SELECT doc_id, i,
             ({tok_hash_duck(f"array_to_string(ts[i:i+{WINNOW_K}-1], ' ')")}
              % {_WIN_HMOD}) AS h
      FROM toks,
           unnest(generate_series(1, greatest(len(ts) - {WINNOW_K} + 1, 0))) AS t(i)),
    keyed AS (
      SELECT doc_id, i, h,
             h * {_WIN_POS} + ({_WIN_POS} - 1 - i) AS key
      FROM pos),
    wmin AS (
      SELECT doc_id, i,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                                     AND CURRENT ROW) AS kmin
      FROM keyed),
    sel AS (
      SELECT DISTINCT doc_id,
             {_WIN_POS} - 1 - (kmin % {_WIN_POS}) AS sel_i,
             kmin // {_WIN_POS} AS sel_h
      FROM wmin WHERE i >= {WINNOW_W}),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
             md5(string_agg(CAST(sel_h AS VARCHAR), ',' ORDER BY sel_i))
               AS fingerprint_hash
      FROM sel GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(s.n_grams AS BIGINT) AS n_grams,
           COALESCE(a.n_fingerprints, 0) AS n_fingerprints,
           a.fingerprint_hash
    FROM stats s LEFT JOIN agg a USING (doc_id)
    ORDER BY s.doc_id
    """,
    group="text",
    doc=f"Winnowing fingerprints (Schleimer et al. 2003): "
    f"{WINNOW_K}-token gram hashes, window of {WINNOW_W}, each "
    "window's minimum hash selected (rightmost on ties) via the "
    "packed-integer argmin key; per doc, the count of selected "
    "fingerprints and the md5 of the position-ordered selection "
    "(docs with fewer than one full window report 0/NULL). Scale: "
    "narrow gram explode, ONE doc-partitioned window pass (bounded "
    "by tokens-per-doc), distinct + per-doc agg — nothing global, "
    "nothing quadratic; fingerprints shuffle as 40-bit ints.",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toked = spread(d, "doc_id").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    n = F.size("ts")
    n_grams = F.greatest(n - WINNOW_K + 1, F.lit(0))
    stats = toked.select("doc_id", n_grams.cast("bigint").alias("n_grams"))
    starts = F.when(
        n >= WINNOW_K, F.sequence(F.lit(1), (n - WINNOW_K + 1).cast("int"))
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    pos = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("i"),
                    (
                        _tok_hash_spark(
                            F.array_join(F.slice(F.col("ts"), i, WINNOW_K), " ")
                        )
                        % _WIN_HMOD
                    ).alias("h"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.i").alias("i"), F.col("p.h").alias("h"))
    keyed = pos.withColumn(
        "key", F.col("h") * _WIN_POS + (F.lit(_WIN_POS - 1) - F.col("i"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), Window.currentRow)
    )
    sel = (
        keyed.withColumn("kmin", F.min("key").over(w))
        .filter(F.col("i") >= WINNOW_W)
        .select(
            "doc_id",
            (F.lit(_WIN_POS - 1) - (F.col("kmin") % _WIN_POS)).alias("sel_i"),
            # integer div, NOT '/': kmin can exceed 2^53, where double
            # division would silently round before the cast
            F.expr(f"kmin div {_WIN_POS}").alias("sel_h"),
        )
        .distinct()
    )
    agg = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sel_i", "sel_h"))),
                    lambda x: x["sel_h"].cast("string"),
                ),
                ",",
            )
        ).alias("fingerprint_hash"),
    )
    return (
        # shuffle-hash, not broadcast: both sides derive from the same
        # doc_id-partitioned toked exchange, so this join is
        # shuffle-free either way — but a broadcast build side becomes
        # an independent subquery that re-runs the whole
        # window+distinct fingerprint pipeline (40 s shuffle-less
        # stage in the round-10 sf1 profile)
        stats.join(agg.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_fingerprints", F.lit(0))
            .cast("bigint")
            .alias("n_fingerprints"),
            "fingerprint_hash",
        )
        # without the result-sized exchange the range sampler re-ran
        # the heavy final stage (round-10 sf1 stage profile)
        .transform(sorted_result, "doc_id")
    )


@register(
    "text_normalize_nfc",
    """
    WITH pre AS (
      SELECT doc_id,
             replace(text, 'a', 'a' || chr(769)) AS raw
      FROM documents),
    norm AS (
      SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM pre)
    SELECT doc_id,
           CAST(LENGTH(raw) AS BIGINT) AS raw_len,
           CAST(LENGTH(nfc) AS BIGINT) AS nfc_len,
           CAST(LENGTH(raw) - LENGTH(nfc) AS BIGINT) AS composed,
           md5(nfc) AS nfc_md5
    FROM norm
    ORDER BY doc_id
    """,
    group="text",
    doc="Unicode NFC normalization — the first stage of every text "
    "curation pipeline (mixed crawls carry the same grapheme as "
    "precomposed code points in one document and base+combining-mark "
    "sequences in another; dedup, shingling, and tokenization all "
    "break unless canonically-equivalent text is byte-identical). "
    "The fixture corpus is ASCII, where NFC is the identity, so the "
    "query first INJECTS decomposed sequences deterministically "
    "(every 'a' gains U+0301 COMBINING ACUTE) in both engines, then "
    "normalizes: Spark through an Arrow-batched mapInPandas over "
    "Python's unicodedata (the stdlib implements Unicode TR15 "
    "exactly), DuckDB through its built-in nfc_normalize (utf8proc) "
    "— two INDEPENDENT TR15 implementations whose agreement the "
    "md5 over the normalized text proves per document. Returned "
    "lengths are code points; `composed` counts the combining marks "
    "absorbed into precomposed forms. Scale: one narrow Python "
    "stage, no shuffle; everything after (lengths, md5) is JVM-side.",
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import unicodedata
    from typing import Iterator

    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    pre = spread(d, "doc_id").select(
        "doc_id",
        # explicit escape: the DECOMPOSED sequence a + U+0301; a raw
        # literal here would be one editor-renormalization away from
        # silently becoming the precomposed form and hollowing out
        # the injection
        F.regexp_replace("text", "a", "a\u0301").alias("raw"),
    )

    def _nfc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw": pdf["raw"],
                    "nfc": pdf["raw"].map(
                        lambda s: unicodedata.normalize("NFC", s)
                    ),
                }
            )

    norm = pre.mapInPandas(_nfc, "doc_id bigint, raw string, nfc string")
    return norm.select(
        "doc_id",
        F.length("raw").cast("bigint").alias("raw_len"),
        F.length("nfc").cast("bigint").alias("nfc_len"),
        (F.length("raw") - F.length("nfc")).cast("bigint").alias("composed"),
        F.md5(F.encode("nfc", "utf-8")).alias("nfc_md5"),
        # without the result-sized exchange the range sampler re-ran
        # the Python NFC stage
    ).transform(sorted_result, "doc_id")
