"""Corpus-curation operators a training-data pipeline runs at 100 TB.

The reference delegates all querying to Flink SQL / Trino
(reference: README.md:175-179); these are the LLM-corpus operations
(SURVEY §2C NS) beyond the dedup/similarity/text families already in
operators/{dedup,similarity,text}.py:

- benchmark decontamination (n-gram overlap against an eval set) —
  the Dolma/FineWeb-style step that removes test-set leakage;
- sliding-window document chunking (token windows with overlap) —
  the tokenizer-feeding step;
- canonical-document selection per near-dup cluster — the
  "keep best, drop rest" half of fuzzy dedup;
- temperature-balanced resampling across sources — the mixture
  re-weighting step (alpha = 0.5), made exactly deterministic with
  integer milli-weights;
- vocabulary coverage — token frequency with cumulative corpus
  share, the vocab-size sizing curve.

Everything is hash-deterministic (md5-derived, engine-identical) or
exact-integer arithmetic; every query has a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.exactmath import round6_ratio, round6_ratio_sql
from flink_stream_spark.operators.dedup import (
    _VERIFIED_CLUSTERED_DUCK,
    connected_components,
    dedup_minhash_lsh_pairs,
)
from flink_stream_spark.operators.layout import sorted_result, spread
from flink_stream_spark.operators.registry import register
from flink_stream_spark.operators.sampling import hash_bucket, _bucket_duck
from flink_stream_spark.plans.scale import range_offsets

BENCH_SOURCE = "src0"  # stands in for the held-out eval set
NGRAM = 5  # decontamination n-gram size


def _ngrams_spark(toks, n_toks, n: int):
    """Distinct word n-grams of a token array (empty for short docs,
    matching the oracle's greatest(len-n+1, 0) bound)."""
    return F.array_distinct(
        F.when(
            n_toks >= n,
            F.transform(
                F.sequence(F.lit(0), (n_toks - n).cast("int")),
                lambda i: F.concat_ws(
                    " ", *[F.get(toks, i + k) for k in range(n)]
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    )


def _ngrams_duck(n: int) -> str:
    parts = " || ' ' || ".join(
        f"string_split(text, ' ')[i+{k}]" for k in range(n)
    )
    return f"""
    list_distinct(list_transform(
        generate_series(1, greatest(len(string_split(text, ' ')) - {n - 1}, 0)),
        i -> {parts}))
    """


@register(
    "text_decontaminate_overlap",
    f"""
    WITH bench AS (
      SELECT DISTINCT unnest({_ngrams_duck(NGRAM)}) AS shingle
      FROM documents WHERE source = '{BENCH_SOURCE}'),
    train AS (
      SELECT doc_id, unnest({_ngrams_duck(NGRAM)}) AS shingle
      FROM documents WHERE source <> '{BENCH_SOURCE}'),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS shared
      FROM train t JOIN bench b USING (shingle)
      GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.shared, 0) AS BIGINT) AS shared_ngrams,
           CAST(CASE WHEN COALESCE(h.shared, 0) >= 1 THEN 1 ELSE 0 END
                AS INTEGER) AS is_contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.source <> '{BENCH_SOURCE}'
    ORDER BY d.doc_id
    """,
    group="pipeline",
    doc="Benchmark decontamination: count distinct 5-gram overlaps "
    "between each training document and the eval corpus (source = "
    "src0 stands in). Plan: both sides explode distinct n-grams and "
    "hash-join on the n-gram — the eval side is tiny relative to the "
    "corpus, so at 100 TB it broadcasts (or bloom-filters the scan); "
    "the train side never self-joins. Left join restores zero-overlap "
    "docs without a second scan of the text.",
)
def text_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toked = spread(d, "doc_id").withColumn("__toks", F.split("text", " "))
    grams = _ngrams_spark(F.col("__toks"), F.size("__toks"), NGRAM)
    bench = (
        toked.filter(F.col("source") == BENCH_SOURCE)
        .select(F.explode_outer(grams).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    train = (
        toked.filter(F.col("source") != BENCH_SOURCE)
        .select("doc_id", F.explode_outer(grams).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    hits = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        d.filter(F.col("source") != BENCH_SOURCE)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("shared"), F.lit(0)).cast("bigint").alias("shared_ngrams"),
            F.when(F.coalesce(F.col("shared"), F.lit(0)) >= 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


CHUNK = 32  # tokens per chunk
STRIDE = 24  # tokens between chunk starts (8-token overlap)


@register(
    "text_chunk_windows",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents),
    c AS (
      SELECT doc_id, unnest(generate_series(0, n - 1, {STRIDE})) AS o, toks, n
      FROM t)
    SELECT doc_id,
           CAST(o // {STRIDE} AS INTEGER) AS chunk_idx,
           CAST(least({CHUNK}, n - o) AS INTEGER) AS n_tokens,
           array_to_string(list_slice(toks, o + 1, least(o + {CHUNK}, n)), ' ')
             AS chunk_text
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
    group="pipeline",
    doc=f"Sliding-window document chunking: {CHUNK}-token windows every "
    f"{STRIDE} tokens ({CHUNK - STRIDE}-token overlap), the "
    "tokenizer-feeding step of a pretraining pipeline. One narrow "
    "per-row transform (tokenize once, then sequence+explode window "
    "offsets) — no shuffle at all; output rows inherit the scan's "
    "partitioning, so a 100 TB corpus chunks embarrassingly parallel.",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toked = (
        spread(d, "doc_id")
        .withColumn("__toks", F.split("text", " "))
        .withColumn("__n", F.size("__toks"))
    )
    c = toked.select(
        "doc_id",
        "__toks",
        "__n",
        F.explode(F.sequence(F.lit(0), F.col("__n") - 1, F.lit(STRIDE))).alias("o"),
    )
    return c.select(
        "doc_id",
        (F.col("o") / STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.lit(CHUNK), F.col("__n") - F.col("o")).cast("int").alias("n_tokens"),
        F.concat_ws(" ", F.slice("__toks", F.col("o") + 1, F.lit(CHUNK))).alias(
            "chunk_text"
        ),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "dedup_canonical_doc",
    _VERIFIED_CLUSTERED_DUCK
    + """
    , member AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clustered c ON c.doc = d.doc_id),
    ranked AS (
      SELECT cluster_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM member)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS canonical_doc_id,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
    group="dedup",
    doc="Canonical-document selection: for every near-dup cluster "
    "(connected components over the Jaccard-verified MinHash-LSH pair "
    "graph) keep the longest member (n_chars DESC, doc_id tie-break) "
    "— the keep-one half of fuzzy dedup. Spark side reuses the "
    "min-label-propagation components; the winner per cluster is one "
    "row_number window over the cluster key, so the extra cost over "
    "cluster assignment is a single bounded shuffle.",
)
def dedup_canonical_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    member = (
        d.select("doc_id", "n_chars")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        member.select(
            "cluster_id",
            "doc_id",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("cluster_id")).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("doc_id").cast("bigint").alias("canonical_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
        .orderBy("cluster_id")
    )


@register(
    "dedup_rate_by_source",
    _VERIFIED_CLUSTERED_DUCK
    + f"""
    , member AS (
      SELECT d.doc_id, d.source,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clustered c ON c.doc = d.doc_id),
    csize AS (
      SELECT cluster_id, COUNT(*) AS sz FROM member GROUP BY cluster_id)
    SELECT m.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE s.sz > 1 AND m.doc_id <> m.cluster_id)
                AS BIGINT) AS n_dup_docs,
           {round6_ratio_sql(
               "COUNT(*) FILTER (WHERE s.sz > 1 AND m.doc_id <> m.cluster_id)",
               "COUNT(*)")} AS dup_rate
    FROM member m JOIN csize s USING (cluster_id)
    GROUP BY m.source
    ORDER BY m.source
    """,
    group="dedup",
    doc="Corpus-health report: per-source duplication rate over the "
    "Jaccard-verified MinHash-LSH near-dup clusters (a doc counts as "
    "a duplicate when its cluster has >1 member and it is not the "
    "cluster representative). The monitoring query a curation "
    "pipeline runs per ingest batch; cluster sizes aggregate on the "
    "cluster key and the final rollup is |sources| rows.",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    member = (
        d.select("doc_id", "source")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    csize = member.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    is_dup = (F.col("sz") > 1) & (F.col("doc_id") != F.col("cluster_id"))
    return (
        member.join(csize, "cluster_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(is_dup, 1).otherwise(0)).cast("bigint").alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            round6_ratio(F.col("n_dup_docs"), F.col("n_docs")).alias("dup_rate"),
        )
        .orderBy("source")
    )


TEMP_TARGET_HALF = 2  # resample to 1/2 of the corpus


@register(
    "sample_temperature_resample",
    f"""
    WITH src AS (
      SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    weighted AS (
      SELECT source, cnt,
             CAST(round(sqrt(CAST(cnt AS DOUBLE)) * 1000, 0) AS BIGINT) AS w
      FROM src),
    tot AS (
      SELECT SUM(cnt) AS n_total, SUM(w) AS w_total FROM weighted),
    rated AS (
      SELECT source, cnt, w,
             least(1000000,
                   (((1000000 * (t.n_total // {TEMP_TARGET_HALF})) // t.w_total)
                      * w) // cnt) AS rate_ppm
      FROM weighted CROSS JOIN tot t),
    kept AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN rated r USING (source)
      WHERE {_bucket_duck('d.doc_id', 1000000)} < r.rate_ppm
      GROUP BY d.source)
    SELECT r.source,
           CAST(r.cnt AS BIGINT) AS n_docs,
           CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rated r LEFT JOIN kept k ON k.source = r.source
    ORDER BY r.source
    """,
    group="sampling",
    doc="Temperature-balanced resampling across sources (alpha = 0.5): "
    "per-source keep rate proportional to sqrt(count)/count, scaled to "
    "a half-corpus target — the mixture re-weighting step that "
    "up-samples rare sources. Weights are integer milli-units and the "
    "rate is exact integer ppm arithmetic, so the plan is bit-"
    "deterministic under any aggregation order; membership is the "
    "md5 hash-bucket predicate (partitioning/retry stable). The "
    "per-source rate table is tiny and broadcasts; the corpus is "
    "touched by exactly one scan + one map-side filter.",
)
def sample_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    weighted = src.withColumn(
        "w", F.round(F.sqrt(F.col("cnt").cast("double")) * 1000, 0).cast("bigint")
    )
    tot = weighted.agg(
        F.sum("cnt").alias("n_total"), F.sum("w").alias("w_total")
    )
    # exact integer arithmetic throughout: `div` is long division
    # (DuckDB's `//`); a double `/` here could round the quotient up
    # across an integer boundary and diverge from the oracle's floor.
    # Association order divides by w_total BEFORE multiplying by w, so
    # the largest intermediate is 1e6 * n_total/2 — int64-safe to
    # ~10^13 docs (the naive (1e6 * n_total * w) product wrapped at
    # ~1e9 docs). The early floor costs at most w/cnt ppm, i.e. <=1 ppm
    # for any source with >=1e6 docs; tiny sources saturate the 1e6
    # cap regardless.
    rated = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "cnt",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.expr(
                f"(((1000000L * (n_total div {TEMP_TARGET_HALF})) div w_total)"
                " * w) div cnt"
            ),
        ).alias("rate_ppm"),
    )
    kept = (
        d.join(F.broadcast(rated), "source")
        .filter(hash_bucket(F.col("doc_id"), 1000000) < F.col("rate_ppm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rated.join(kept, "source", "left")
        .select(
            "source",
            F.col("cnt").cast("bigint").alias("n_docs"),
            F.col("rate_ppm").cast("bigint"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


_EMAIL_RE = "[a-z0-9.]+@[a-z0-9]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redact",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE
               WHEN doc_id % 10 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-867-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
               WHEN doc_id % 10 = 5
                 THEN ' mail to admin@test.org'
               ELSE ''
             END AS text
      FROM documents),
    counted AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones
      FROM seeded)
    SELECT doc_id,
           CAST(n_emails AS INTEGER) AS n_emails,
           CAST(n_phones AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM counted
    ORDER BY doc_id
    """,
    group="pipeline",
    doc="PII redaction: emails and phone numbers detected and replaced "
    "with typed placeholders (counts + a hash of the redacted text "
    "prove the rewrite byte-for-byte). The fixture corpus carries no "
    "PII, so both engines seed identical synthetic contacts into a "
    "deterministic subset first — the redaction path is genuinely "
    "exercised, not vacuous. Pure per-row regex work: no shuffle "
    "before the presentation sort; at 100 TB this is a map-only "
    "pass the scan parallelism absorbs.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    seeded_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        )
        .when(F.col("doc_id") % 10 == 5, F.lit(" mail to admin@test.org"))
        .otherwise(F.lit("")),
    )
    seeded = spread(d, "doc_id").select("doc_id", seeded_text.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    # regexes passed as Column literals, NOT through F.expr — Spark
    # SQL string-literal parsing would strip the backslash and turn
    # the escaped dot into a wildcard
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "text_unigram_rarity",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    counts AS (
      SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT SUM(cnt) AS total FROM counts),
    freq AS (
      SELECT token, (1000000 * cnt) // t.total AS freq_ppm
      FROM counts CROSS JOIN tot t),
    scored AS (
      SELECT k.doc_id,
             COUNT(*) AS n_tokens,
             SUM(f.freq_ppm) AS s
      FROM toks k JOIN freq f USING (token)
      GROUP BY k.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           {round6_ratio_sql("s", "n_tokens")}
             AS mean_token_freq_ppm
    FROM scored
    ORDER BY doc_id
    """,
    group="text",
    doc="Unigram-frequency document scoring — the language-model-"
    "perplexity proxy a FineWeb-style quality filter thresholds on: "
    "each token scored by its corpus frequency (exact integer ppm), "
    "averaged per document. Documents full of rare garbage score low; "
    "boilerplate scores high. The frequency table is |vocab| rows and "
    "broadcasts back onto the token stream (AQE picks the broadcast); "
    "integer ppm keeps the join+sum bit-deterministic, with one "
    "double division per document at the end.",
)
def text_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"))
    freq = counts.crossJoin(F.broadcast(tot)).select(
        "token", F.expr("(1000000 * cnt) div total").alias("freq_ppm")
    )
    return (
        toks.join(freq, "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("freq_ppm").alias("s"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            round6_ratio(F.col("s"), F.col("n_tokens")).alias(
                "mean_token_freq_ppm"
            ),
        )
        .orderBy("doc_id")
    )


VOCAB_TOPK = 100


@register(
    "text_vocab_coverage",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    counts AS (
      SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    ranked AS (
      SELECT token, cnt,
             SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(cnt) OVER () AS total
      FROM counts)
    SELECT token, CAST(cnt AS BIGINT) AS cnt,
           {round6_ratio_sql("cum", "total")} AS cum_share
    FROM ranked
    ORDER BY cnt DESC, token ASC
    LIMIT {VOCAB_TOPK}
    """,
    group="text",
    doc=f"Vocabulary coverage curve: top-{VOCAB_TOPK} tokens by corpus "
    "frequency with the cumulative share of all token occurrences "
    "they cover — the vocab-size sizing query. Token counting is one "
    "map-side-combined groupBy; the running-total window runs over "
    "the *vocabulary* (bounded, orders of magnitude smaller than the "
    "corpus), and the share stays exact integer until one final "
    "division.",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        spread(d, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top-K FIRST (TakeOrderedAndProject — scalable), then the running
    # total over only K rows; the global total is a scalar aggregate
    # broadcast in. The previous form ran both windows over the whole
    # vocabulary in a single task — the 'No Partition Defined' hazard
    # at web-corpus vocab sizes. The cumulative share of the first K
    # rows is identical either way (the order is the same).
    total = counts.agg(F.sum("cnt").alias("total"))
    topk = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(VOCAB_TOPK)
    w_cum = W.orderBy(F.col("cnt").desc(), F.col("token").asc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        topk.withColumn("cum", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            round6_ratio(F.col("cum"), F.col("total")).alias("cum_share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
    )


@register(
    "text_bpe_pair_merges",
    """
    WITH words AS (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      FROM documents),
    w2 AS (SELECT w FROM words WHERE length(w) >= 2),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair
      FROM w2, UNNEST(range(1, CAST(length(w) AS BIGINT))) AS t(i))
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
    group="text",
    doc="One BPE-training iteration's merge-candidate scan (Sennrich et "
    "al. 2016): count adjacent symbol pairs inside lowercased alpha "
    "words, rank the top merges. Counted per word TYPE weighted by "
    "frequency — the classic BPE-trainer factorization: pair "
    "substrings are built once per distinct word instead of once per "
    "occurrence (5.7x at sf1, and the type/token ratio only improves "
    "with corpus size). The word-count shuffle is |distinct words| "
    "after map-side combine; the pair histogram key space is at most "
    "26^2 so that shuffle is KBs at any corpus size; the top-k is "
    "TakeOrderedAndProject — the exact shape a distributed tokenizer "
    "trainer needs per merge round.",
)
def text_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .filter(F.length("w") >= 2)
    )
    wcnt = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = wcnt.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


PACK_WINDOW = 2048  # tokens per training sequence


@register(
    "corpus_pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS off
      FROM toks)
    SELECT doc_id, n_tokens,
           CAST(off // {PACK_WINDOW} AS BIGINT) AS pack_id,
           CAST(off % {PACK_WINDOW} AS BIGINT) AS pack_offset,
           CAST((off + n_tokens - 1) // {PACK_WINDOW} > off // {PACK_WINDOW}
                AS BOOLEAN) AS spans_boundary
    FROM cum
    ORDER BY doc_id
    """,
    group="corpus",
    doc=f"Sequence packing for pre-training (concatenate the corpus in "
    f"doc_id order, chunk into {PACK_WINDOW}-token windows): each doc "
    "gets its pack id, offset inside the pack, and a boundary flag. "
    "The global running offset is NOT a single-task window: it is "
    "computed with the distributed global-cumsum pattern (range "
    "partition on the order key -> per-partition cumsum -> broadcast "
    "partition offsets): plans/scale.range_offsets, which "
    "plans/scale.with_global_rank also uses — so packing parallelizes at scan width while matching the "
    "sequential ORDER BY semantics exactly.",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    parted, offsets = range_offsets(toks, ["doc_id"], "n_tokens")
    w_in = W.partitionBy("__pid").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    cum = (
        parted.withColumn("__local", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))
        .join(offsets, "__pid")
        .withColumn("off", F.col("__local") + F.col("__off"))
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.expr(f"off div {PACK_WINDOW}").cast("bigint").alias("pack_id"),
        (F.col("off") % PACK_WINDOW).cast("bigint").alias("pack_offset"),
        (
            F.expr(f"(off + n_tokens - 1) div {PACK_WINDOW}")
            > F.expr(f"off div {PACK_WINDOW}")
        ).alias("spans_boundary"),
    ).transform(sorted_result, "doc_id")


LINE_TOKENS = 8  # pseudo-line width (fixture text has no newlines)
LINE_DF_DROP = 3  # corpus frequency at which a line is boilerplate


@register(
    "text_line_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    chunks AS (
      SELECT doc_id, i,
             array_to_string(ts[(i*{LINE_TOKENS}+1):(i*{LINE_TOKENS}+{LINE_TOKENS})], ' ') AS chunk
      FROM toks,
           unnest(range(CAST(ceil(len(ts) / {LINE_TOKENS}.0) AS BIGINT))) AS t(i)),
    freq AS (SELECT chunk, COUNT(*) AS c FROM chunks GROUP BY chunk),
    flagged AS (
      SELECT ch.doc_id, ch.i, ch.chunk, f.c >= {LINE_DF_DROP} AS dropped
      FROM chunks ch JOIN freq f USING (chunk))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           md5(string_agg(CASE WHEN NOT dropped THEN chunk END, ' ' ORDER BY i))
             AS kept_hash
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    group="corpus",
    doc=f"C4-style corpus line dedup: the text splits into consecutive "
    f"{LINE_TOKENS}-token pseudo-lines (the fixture corpus has no "
    f"newlines), every line occurring in >= {LINE_DF_DROP} places "
    "corpus-wide is boilerplate and removed from every document, and "
    "each doc reports its line count, drop count, and the md5 of the "
    "surviving text (NULL when nothing survives). Scale: the line "
    "explode is narrow; the frequency count shuffles |distinct lines| "
    "after map-side combine; the 1:1 frequency join back is on the "
    "line key (AQE broadcasts the freq side when it fits); the "
    "per-doc rebuild is a bounded sorted collect (lines-per-doc). "
    "This is the removal counterpart to dedup_prefix_boilerplate's "
    "detection-only containment scoring.",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toked = spread(d, "doc_id").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    n_chunks = F.ceil(F.size("ts") / F.lit(float(LINE_TOKENS))).cast("int")
    chunks = toked.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("ts"), i * LINE_TOKENS + 1, LINE_TOKENS), " "
                ),
            )
        ).alias("i", "chunk"),
    )
    freq = chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("c"))
    flagged = chunks.join(freq, "chunk").select(
        "doc_id", "i", "chunk", (F.col("c") >= LINE_DF_DROP).alias("dropped")
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(~F.col("dropped"), F.struct("i", "chunk"))
            )
        ),
        lambda x: x["chunk"],
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("dropped").cast("int")).cast("bigint").alias("n_dropped"),
            F.when(
                F.sum((~F.col("dropped")).cast("int")) == 0, F.lit(None)
            )
            .otherwise(F.md5(F.array_join(kept_sorted, " ")))
            .alias("kept_hash"),
        )
        .orderBy("doc_id")
    )


# --- iterative BPE training ---------------------------------------------
#
# R greedy merge rounds over the whole corpus (the BPE training loop,
# Sennrich et al. 2016 at word-token granularity): each round counts
# adjacent token pairs corpus-wide, merges the most frequent pair
# (ties: lexicographically smallest) everywhere, and repeats on the
# merged corpus. The corpus is carried as a '~'-framed string — each
# token wrapped as ~t~, so a pair merge is ONE codegen'd non-overlapping
# left-to-right string replace('~a~~b~' -> '~a+b~'): replace() cannot
# match inside tokens (text is [a-z0-9 ]; '~' frames every boundary)
# and consecutive-overlap greediness matches the canonical BPE fold.
BPE_ROUNDS = 3
_BPE_SEP = "~"
_BPE_JOIN = "+"


def _bpe_oracle() -> str:
    parts = [
        """
    WITH r0 AS (
      SELECT doc_id,
             '~' || array_to_string(string_split(text, ' '), '~~') || '~' AS rep
      FROM documents)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""
    , t{r} AS (
      SELECT string_split(substr(rep, 2, length(rep) - 2), '~~') AS ts
      FROM r{r - 1}),
    p{r} AS (
      SELECT ts[i] AS a, ts[i + 1] AS b, COUNT(*) AS c
      FROM t{r}, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
      GROUP BY 1, 2),
    w{r} AS (
      SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    r{r} AS (
      SELECT doc_id,
             replace(rep, '~' || w.a || '~~' || w.b || '~',
                          '~' || w.a || '+' || w.b || '~') AS rep
      FROM r{r - 1} CROSS JOIN w{r} w),
    v{r} AS (
      SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab_size_after,
             CAST(COUNT(*) AS BIGINT) AS corpus_tokens_after
      FROM (SELECT unnest(string_split(substr(rep, 2, length(rep) - 2), '~~')) AS t
            FROM r{r})),
    s{r} AS (
      SELECT {r} AS round, w.a || '+' || w.b AS merged_pair,
             CAST(w.c AS BIGINT) AS freq,
             v.vocab_size_after, v.corpus_tokens_after
      FROM w{r} w CROSS JOIN v{r} v)"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, BPE_ROUNDS + 1)
    )
    return "".join(parts) + f"\n    {union}\n    ORDER BY round\n    "


def _bpe_rounds(d: DataFrame):
    """Run the BPE_ROUNDS greedy merge loop over the framed corpus rep.

    Returns (rep0, [(round, a, b, c, rep_after_round), ...]) — the
    shared engine of text_bpe_train (which reports per-round stats) and
    text_bpe_encode (which tokenizes with the final rep). Each round is
    one pair-count aggregate (map-side combine), ONE (a,b,c) scalar row
    to the driver, and one codegen'd replace() pass; per-round reps are
    cached so round r+1 reuses r's merge instead of replaying the
    chain."""
    rep0 = d.select(
        "doc_id",
        F.concat(
            F.lit(_BPE_SEP),
            F.array_join(F.split("text", " "), _BPE_SEP * 2),
            F.lit(_BPE_SEP),
        ).alias("rep"),
    )
    _EMPTY_PAIRS = "CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)"
    rounds = []
    rep = rep0
    for r in range(1, BPE_ROUNDS + 1):
        rep = rep.cache()
        toks = rep.select(
            F.split(F.expr("substr(rep, 2, length(rep) - 2)"), _BPE_SEP * 2).alias(
                "ts"
            )
        )
        n = F.size("ts")
        pairs_arr = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), (n - 2).cast("int")),
                lambda i: F.struct(
                    F.col("ts")[i].alias("a"), F.col("ts")[i + 1].alias("b")
                ),
            ),
        ).otherwise(F.expr(_EMPTY_PAIRS))
        counts = (
            toks.select(F.explode_outer(pairs_arr).alias("p"))
            .filter(F.col("p").isNotNull())
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # tie-break on the (a, b) COLUMNS, not their '+'-joined concat:
        # once merged tokens themselves contain '+', pairs ('x+y','z')
        # and ('x','y+z') share the concat key and an exact (count,
        # key) tie would resolve by nondeterministic LIMIT 1 — the
        # column pair is unambiguous, and the oracle orders the same.
        win = (
            counts.orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()[0]
        )
        a, b, c = win["a"], win["b"], int(win["c"])
        pat = f"{_BPE_SEP}{a}{_BPE_SEP}{_BPE_SEP}{b}{_BPE_SEP}"
        rpl = f"{_BPE_SEP}{a}{_BPE_JOIN}{b}{_BPE_SEP}"
        rep = rep.select(
            "doc_id", F.replace(F.col("rep"), F.lit(pat), F.lit(rpl)).alias("rep")
        )
        rounds.append((r, a, b, c, rep))
    return rep0, rounds


def _bpe_encode_oracle() -> str:
    """Unrolled DuckDB twin of the encode path: the same per-round
    (count pairs -> pick winner -> replace) chain as _bpe_oracle, ended
    with a per-document before/after token count instead of the
    per-round stats."""
    parts = [
        """
    WITH r0 AS (
      SELECT doc_id,
             '~' || array_to_string(string_split(text, ' '), '~~') || '~' AS rep
      FROM documents)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""
    , t{r} AS (
      SELECT string_split(substr(rep, 2, length(rep) - 2), '~~') AS ts
      FROM r{r - 1}),
    p{r} AS (
      SELECT ts[i] AS a, ts[i + 1] AS b, COUNT(*) AS c
      FROM t{r}, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
      GROUP BY 1, 2),
    w{r} AS (
      SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    r{r} AS (
      SELECT doc_id,
             replace(rep, '~' || w.a || '~~' || w.b || '~',
                          '~' || w.a || '+' || w.b || '~') AS rep
      FROM r{r - 1} CROSS JOIN w{r} w)"""
        )
    parts.append(
        f"""
    SELECT a.doc_id,
           CAST(len(string_split(substr(a.rep, 2, length(a.rep) - 2), '~~'))
                AS BIGINT) AS n_tokens_raw,
           CAST(len(string_split(substr(z.rep, 2, length(z.rep) - 2), '~~'))
                AS BIGINT) AS n_tokens_bpe,
           {round6_ratio_sql(
               "len(string_split(substr(a.rep, 2, length(a.rep) - 2), '~~'))",
               "len(string_split(substr(z.rep, 2, length(z.rep) - 2), '~~'))")}
             AS compression
    FROM r0 a JOIN r{BPE_ROUNDS} z USING (doc_id)
    ORDER BY a.doc_id
    """
    )
    return "".join(parts)


@register(
    "text_bpe_train",
    _bpe_oracle(),
    group="corpus",
    doc=f"BPE training loop, {BPE_ROUNDS} greedy merge rounds "
    "(Sennrich et al. 2016 at word granularity): per round, count "
    "adjacent token pairs corpus-wide, merge the most frequent pair "
    "(ties lexicographic) in every document, recount on the merged "
    "corpus. Reports each round's winning pair, its frequency, and "
    "the post-merge vocab/token counts. Scale: the corpus rep is a "
    "framed string, so a merge round is a codegen'd narrow "
    "replace() pass (no per-row Python, no array fold); pair counts "
    "shuffle once per round with map-side combine; the only driver "
    "traffic is ONE (a, b, count) row per round (same bounded-scalar "
    "contract as graph_pagerank_bipartite's convergence checks). Each "
    "round's rep is cached so round r+1 reuses r's merge instead of "
    "replaying the chain.",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    d = load_table(spark, sf_dir, "documents")
    _, rounds = _bpe_rounds(spread(d, "doc_id"))
    out = []
    for r, a, b, c, rep in rounds:
        stats = (
            rep.select(
                F.explode(
                    F.split(F.expr("substr(rep, 2, length(rep) - 2)"), _BPE_SEP * 2)
                ).alias("t")
            )
            .agg(
                F.countDistinct("t").cast("bigint").alias("vocab_size_after"),
                F.count(F.lit(1)).cast("bigint").alias("corpus_tokens_after"),
            )
        )
        out.append(
            stats.select(
                F.lit(r).cast("int").alias("round"),
                F.lit(f"{a}{_BPE_JOIN}{b}").alias("merged_pair"),
                F.lit(c).cast("bigint").alias("freq"),
                "vocab_size_after",
                "corpus_tokens_after",
            )
        )
    return reduce(lambda x, y: x.unionAll(y), out).orderBy("round")


@register(
    "text_bpe_encode",
    _bpe_encode_oracle(),
    group="corpus",
    doc=f"BPE tokenizer APPLICATION — the per-document op a training "
    f"pipeline runs after text_bpe_train learns its merges: the same "
    f"{BPE_ROUNDS} greedy merges are learned, then each document "
    "reports its raw whitespace token count, its post-merge BPE token "
    "count, and the compression ratio. Merge application is the same "
    "codegen'd framed-string replace() pass as training (no per-row "
    "Python, no array fold); the only driver traffic is ONE scalar "
    "(a, b, count) row per merge round. At 100 TB the learned merge "
    "list is tiny driver state and each application pass is a narrow "
    "map — tokenization parallelizes at the scan.",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rep0, rounds = _bpe_rounds(spread(d, "doc_id"))
    final_rep = rounds[-1][4]

    def n_of(c: str):
        return F.size(
            F.split(F.expr(f"substr({c}, 2, length({c}) - 2)"), _BPE_SEP * 2)
        ).cast("bigint")

    raw = rep0.select("doc_id", n_of("rep").alias("n_tokens_raw"))
    enc = final_rep.select("doc_id", n_of("rep").alias("n_tokens_bpe"))
    return (
        raw.join(enc, "doc_id")
        .select(
            "doc_id",
            "n_tokens_raw",
            "n_tokens_bpe",
            round6_ratio(
                F.col("n_tokens_raw"), F.col("n_tokens_bpe")
            ).alias("compression"),
        )
        .transform(sorted_result, "doc_id")
    )


@register(
    "corpus_curriculum_bins",
    """
    WITH toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    bounds AS (
      SELECT quantile_cont(n_tokens, [0.25, 0.5, 0.75]) AS q FROM toks),
    binned AS (
      SELECT t.doc_id, t.n_tokens,
             1 + CAST(t.n_tokens > b.q[1] AS INT)
               + CAST(t.n_tokens > b.q[2] AS INT)
               + CAST(t.n_tokens > b.q[3] AS INT) AS bin
      FROM toks t CROSS JOIN bounds b)
    SELECT CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM binned GROUP BY bin
    ORDER BY bin
    """,
    group="corpus",
    doc="Length-curriculum binning: documents quartiled by exact token "
    "count into 4 training phases (short -> long), with per-bin "
    "counts and token budgets. Scale shape: the quartile boundaries "
    "come from ONE exact percentile aggregate (never an ntile window, "
    "which would move the whole corpus through a single partition), "
    "broadcast back as a 3-value row; binning is then a map-side CASE "
    "and the final agg has 4 groups. Interpolated quantiles of small "
    "exact integers are exact in float64, so both engines bin "
    "identically.",
)
def corpus_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    bounds = toks.agg(
        F.expr("percentile(n_tokens, array(0.25D, 0.5D, 0.75D))").alias("q")
    )
    binned = toks.crossJoin(F.broadcast(bounds)).select(
        "n_tokens",
        (
            F.lit(1)
            + (F.col("n_tokens") > F.col("q")[0]).cast("int")
            + (F.col("n_tokens") > F.col("q")[1]).cast("int")
            + (F.col("n_tokens") > F.col("q")[2]).cast("int")
        ).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n_docs",
            "min_tokens",
            "max_tokens",
            "total_tokens",
        )
        .orderBy("bin")
    )
