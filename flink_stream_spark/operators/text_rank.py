"""Corpus-statistics text ranking: tf-idf terms and n-gram counts.

Classic corpus-curation signals over the `documents` table (SURVEY
§2C NS — the reference has no text-analysis surface; its query layer
is delegated per README.md:175-179):

- per-document top-k tf-idf terms — the two-level aggregation shape
  (doc-term frequencies, then document frequencies) plus a join of
  the derived vocabulary statistics back onto the term table;
- corpus-wide top-k bigrams — the canonical map-side-combine
  aggregation: partial counts collapse per partition before the
  single shuffle, so the shuffle volume is |vocab|, not |tokens|.

Scale posture: token explode is narrow (no shuffle); tf shuffles on
(doc_id, term); the df/vocab table is |vocab| rows (AQE picks
broadcast when it fits, shuffle-hash otherwise); per-doc top-k is a
bounded-heap window. Nothing materializes the token stream twice.

Determinism: scores are tf * ln(N/df) with integer tf/df/N — distinct
score values differ by ≥ 1/N² (far above double ulp), so ordering and
6-dp rounding agree across engines; ties break on the term string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.exactmath import round6_ratio, round6_ratio_sql
from flink_stream_spark.operators.layout import sorted_result, spread
from flink_stream_spark.operators.registry import register


@register(
    "text_tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.term,
             CAST(t.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)) AS s
      FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN n)
    SELECT doc_id, term,
           CAST(ROUND(s, 6) AS DOUBLE) AS tfidf,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY s DESC, term) AS rn
          FROM scored) t
    WHERE rn <= 3
    ORDER BY doc_id, rank
    """,
    group="text",
    doc="Top-3 tf-idf terms per document: doc-term counts -> document "
    "frequencies -> score join -> bounded per-doc top-k window.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
            ).alias("s"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("s").desc(), F.col("term").asc())
    return (
        scored.select(
            "doc_id", "term", "s", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            F.round("s", 6).cast("double").alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
        .transform(sorted_result, "doc_id", "rank")
    )


@register(
    "text_ngram_topk",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    grams AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(ts) - 1, 0)),
               i -> ts[i] || ' ' || ts[i+1])) AS bigram
      FROM toks)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    group="text",
    doc="Corpus top-20 bigrams: narrow explode then one count shuffle "
    "with map-side partial aggregation — shuffle volume is |vocab|, "
    "not |tokens|; top-k via sort-limit (AQE takes the partial top-k "
    "per partition).",
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toked = spread(d, "doc_id").withColumn("__toks", F.split("text", " "))
    nt = F.size(F.col("__toks"))
    grams = F.when(
        nt >= 2,
        F.transform(
            F.sequence(F.lit(0), (nt - 2).cast("int")),
            lambda i: F.concat_ws(
                " ", F.get(F.col("__toks"), i), F.get(F.col("__toks"), i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    return (
        toked.select(F.explode_outer(grams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "text_zipf_entropy",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
    counts AS (
      SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term),
    stats AS (
      SELECT source,
             SUM(c) AS n_tokens,
             COUNT(*) AS vocab,
             SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s,
             MAX(c) AS top_c
      FROM counts GROUP BY source)
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens, 6) AS DOUBLE) AS entropy,
           {round6_ratio_sql("top_c", "n_tokens")} AS top_token_frac
    FROM stats
    ORDER BY source
    """,
    group="text",
    doc="Per-source token-distribution statistics: Shannon entropy "
    "H = ln(N) - Σc·ln(c)/N from exact integer counts, vocabulary "
    "size, and the top-type fraction — the Zipf-shape / diversity "
    "signals a curation pipeline uses to spot templated or spammy "
    "sources. Two count shuffles with map-side combine; the double "
    "accumulation differs across engines only at ~1e-11 of the "
    "entropy's ~1e1 magnitude, far inside the 6-dp round. Scale: "
    "shuffle volume is |vocab| per source, never |tokens|.",
)
def text_zipf_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("source", F.explode_outer(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("s"),
        F.max("c").alias("top_c"),
    )
    return stats.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("vocab").cast("bigint").alias("vocab"),
        F.round(
            F.log(F.col("n_tokens").cast("double")) - F.col("s") / F.col("n_tokens"), 6
        ).alias("entropy"),
        round6_ratio(F.col("top_c"), F.col("n_tokens")).alias("top_token_frac"),
    ).orderBy("source")


@register(
    "text_bm25_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    qterms AS (
      SELECT d.term, d.df FROM dfreq d CROSS JOIN stats s
      WHERE d.df >= 3 AND d.df * 2 <= s.n_docs
      ORDER BY d.df DESC, d.term LIMIT 5),
    scored AS (
      SELECT t.doc_id,
             CAST(FLOOR(
               ln(CAST(s.n_docs AS DOUBLE) / CAST(q.df AS DOUBLE))
               * CAST(t.tf AS DOUBLE) * 2.2
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS s_micro
      FROM tf t
      JOIN qterms q ON t.term = q.term
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s)
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_terms_matched,
           CAST(SUM(s_micro) AS BIGINT) AS bm25_micro
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id
    LIMIT 20
    """,
    group="text",
    doc="BM25 retrieval scoring (k1=1.2, b=0.75, idf=ln(N/df)): the "
    "query is the corpus's own top-5 mid-frequency terms "
    "(3 <= df <= N/2 — deterministic at every SF), scored against "
    "every document and reduced to the top-20 hits. Per-term scores "
    "quantize to exact micro-unit BIGINTs BEFORE the per-doc sum, so "
    "summation order can never shift the hash (the engine-vs-oracle "
    "double-sum trap); floor(x*1e6+0.5) is sign-safe because "
    "idf >= 0 under the df <= N/2 filter. Scale: tf/df aggregates "
    "shuffle on their keys with map-side combine; the 5-term query "
    "set broadcasts; top-20 is a TakeOrdered, never a global sort.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        dfreq.crossJoin(F.broadcast(stats))
        .filter((F.col("df") >= 3) & (F.col("df") * 2 <= F.col("n_docs")))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(5)
        .select("term", "df")
    )
    s_micro = F.floor(
        F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
        * F.col("tf").cast("double")
        * F.lit(2.2)
        / (
            F.col("tf").cast("double")
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75) * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_micro.alias("s_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
            F.sum("s_micro").cast("bigint").alias("bm25_micro"),
        )
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(20)
    )


@register(
    "text_unigram_logppl",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    counts AS (SELECT term, SUM(tf) AS c FROM tf GROUP BY term),
    total AS (SELECT SUM(c) AS t FROM counts),
    nll AS (
      SELECT c.term,
             CAST(FLOOR(ln(CAST(t.t AS DOUBLE) / CAST(c.c AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS nll_micro
      FROM counts c CROSS JOIN total t)
    SELECT f.doc_id,
           CAST(SUM(f.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(f.tf * n.nll_micro) AS BIGINT) AS nll_micro_total,
           CAST(FLOOR(CAST(SUM(f.tf * n.nll_micro) AS DOUBLE)
                      / CAST(SUM(f.tf) AS DOUBLE) + 0.5) AS BIGINT)
             / 1000000.0 AS avg_nll
    FROM tf f JOIN nll n ON f.term = n.term
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
    group="text",
    doc="Unigram LM log-perplexity quality score: corpus unigram "
    "probabilities p(t)=c/T, per-document mean negative log-likelihood "
    "(low = fluent/common text, high = noise/rare-vocab — the classic "
    "KenLM-style quality filter with the LM reduced to its unigram "
    "term so the score is exactly oracle-checkable). Per-TERM nll "
    "quantizes to micro-unit BIGINTs (ln(T/c) >= 0, floor(x*1e6+0.5) "
    "sign-safe) and per-doc totals are exact integer sums tf*nll — no "
    "cross-engine double accumulation anywhere. Scale: two hash "
    "aggregates (|doc x term|, then |vocab|) plus one |vocab|-row "
    "join back (AQE broadcasts it); the token stream is read once.",
)
def text_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    counts = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    nll = counts.crossJoin(F.broadcast(total)).select(
        "term",
        F.floor(
            F.log(F.col("t").cast("double") / F.col("c").cast("double"))
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("nll_micro"),
    )
    return (
        tf.join(nll, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("nll_micro"))
            .cast("bigint")
            .alias("nll_micro_total"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_micro_total",
            # half-up at micro precision in exact integers, then one
            # int->double division (see exactmath: ROUND(double, 6)
            # diverges between engines on half-boundaries)
            (
                F.floor(
                    F.col("nll_micro_total").cast("double")
                    / F.col("n_tokens").cast("double")
                    + F.lit(0.5)
                ).cast("bigint")
                / F.lit(1000000.0)
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_LIST_K = 20  # fuse the top-20 of each retrieval list
RRF_OUT_K = 10


@register(
    "retrieval_hybrid_rrf",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    qterms AS (
      SELECT d.term, d.df FROM dfreq d CROSS JOIN stats s
      WHERE d.df >= 3 AND d.df * 2 <= s.n_docs
      ORDER BY d.df DESC, d.term LIMIT 5),
    scored AS (
      SELECT t.doc_id,
             CAST(FLOOR(
               ln(CAST(s.n_docs AS DOUBLE) / CAST(q.df AS DOUBLE))
               * CAST(t.tf AS DOUBLE) * 2.2
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS s_micro
      FROM tf t
      JOIN qterms q ON t.term = q.term
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s),
    bm AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY SUM(s_micro) DESC, doc_id) AS r
      FROM scored GROUP BY doc_id),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    cs AS (
      SELECT c.vec_id AS doc_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cos
      FROM embeddings c CROSS JOIN qv q WHERE c.vec_id <> 0),
    cr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
      FROM cs),
    fused AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             b.r AS bm25_rank, c.r AS cos_rank,
             COALESCE(1.0 / ({RRF_K} + b.r), 0)
               + COALESCE(1.0 / ({RRF_K} + c.r), 0) AS rrf
      FROM (SELECT * FROM bm WHERE r <= {RRF_LIST_K}) b
      FULL JOIN (SELECT * FROM cr WHERE r <= {RRF_LIST_K}) c
        ON c.doc_id = b.doc_id)
    SELECT doc_id,
           CAST(bm25_rank AS BIGINT) AS bm25_rank,
           CAST(cos_rank AS BIGINT) AS cos_rank,
           CAST(ROUND(rrf, 6) AS DOUBLE) AS rrf
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_OUT_K}
    """,
    group="text",
    doc="Hybrid retrieval with reciprocal-rank fusion (the RAG-stack "
    "retrieval shape): lexical list = BM25 top-20 for the corpus's "
    "deterministic 5-term query (same arithmetic as text_bm25_topk), "
    "dense list = cosine top-20 against the vec_id-0 query embedding "
    "(doc_id and vec_id share the fixture's 0..n-1 id space), fused "
    f"by RRF score = Σ 1/({RRF_K} + rank) over the lists a doc "
    "appears in, top-10 reported with both ranks (NULL = absent from "
    "that list). Exactness: RRF is computed from INTEGER ranks, so "
    "the fused ordering is engine-independent even though the "
    "underlying scores are floats. Scale: both lists are TakeOrdered "
    "top-k (never a global sort of the corpus — ranks are assigned "
    "WITHIN the 20-row lists); BM25 aggregates shuffle with map-side "
    "combine; the query embedding broadcasts.",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.dedup import _dot_expr, _norm_expr

    # lexical list: the registered BM25 scorer's exact top-20 (its
    # LIMIT and RRF_LIST_K are both 20; the oracle unrolls the same
    # CTE chain, so a drift would fail the hash gate loudly)
    bm_top = text_bm25_topk(spark, sf_dir)
    w_all = W.orderBy(F.col("bm25_micro").desc(), "doc_id")
    bm = bm_top.select(
        "doc_id", F.row_number().over(w_all).alias("bm25_rank")
    )
    # dense list: cosine vs the vec_id-0 query embedding
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"),
        _norm_expr(F.col("embedding")).alias("q_norm"),
    )
    cs = (
        e.filter(F.col("vec_id") != 0)
        .transform(spread, "vec_id")
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").alias("c_emb"),
            _norm_expr(F.col("embedding")).alias("c_norm"),
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            (
                _dot_expr(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos"),
        )
    )
    cr_top = cs.orderBy(F.col("cos").desc(), "doc_id").limit(RRF_LIST_K)
    cr = cr_top.select(
        "doc_id",
        F.row_number().over(W.orderBy(F.col("cos").desc(), "doc_id")).alias(
            "cos_rank"
        ),
    )
    fused = bm.join(cr, "doc_id", "full_outer").select(
        "doc_id",
        F.col("bm25_rank").cast("bigint").alias("bm25_rank"),
        F.col("cos_rank").cast("bigint").alias("cos_rank"),
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("cos_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(RRF_OUT_K)


# --- bigram stupid-backoff LM: held-out perplexity quality filter ---------
#
# The CCNet shape: train an n-gram LM on a trusted reference corpus,
# score every incoming document by mean negative log-likelihood, and
# filter/bucket on the score. The unigram query scores the corpus
# with its own LM (backoff can never trigger); here the LM trains on
# the INGESTED sources only (src0..src{IDX_SOURCE_MAX-1}, the same
# index/batch split the incremental-dedup queries use), so new-batch
# docs genuinely hit the backoff path: unseen bigram -> 0.4 * unigram,
# unseen unigram -> 0.4 * 1/T floor (Brants 2007 "stupid backoff" —
# score, not a normalized probability, which is exactly why it
# distributes: counts only, no discount bookkeeping).
BACKOFF_INV = 2.5  # 1/0.4: ln(2.5 * T / c) keeps the quantized nll >= 0


@register(
    "text_bigram_logppl",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    seq AS (
      SELECT doc_id, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM toks),
    lm AS (
      SELECT s.* FROM seq s JOIN documents d USING (doc_id)
      WHERE CAST(substr(d.source, 4) AS INT) < 10),
    uni AS (SELECT term, COUNT(*) AS c FROM lm GROUP BY term),
    tot AS (SELECT COUNT(*) AS t FROM lm),
    big AS (SELECT prev, term, COUNT(*) AS c2 FROM lm
            WHERE prev IS NOT NULL GROUP BY prev, term),
    ctx AS (SELECT prev, COUNT(*) AS c1 FROM lm
            WHERE prev IS NOT NULL GROUP BY prev),
    scored AS (
      SELECT s.doc_id,
        CASE
          WHEN s.prev IS NOT NULL AND b.c2 IS NOT NULL
            THEN ln(CAST(x.c1 AS DOUBLE) / CAST(b.c2 AS DOUBLE))
          WHEN s.prev IS NOT NULL
            THEN ln({BACKOFF_INV} * CAST(t.t AS DOUBLE)
                    / CAST(COALESCE(u.c, 1) AS DOUBLE))
          ELSE ln(CAST(t.t AS DOUBLE) / CAST(COALESCE(u.c, 1) AS DOUBLE))
        END AS nll
      FROM seq s
      LEFT JOIN uni u ON u.term = s.term
      LEFT JOIN big b ON b.prev = s.prev AND b.term = s.term
      LEFT JOIN ctx x ON x.prev = s.prev
      CROSS JOIN tot t),
    q AS (SELECT doc_id,
                 CAST(FLOOR(nll * 1000000.0 + 0.5) AS BIGINT) AS nm
          FROM scored)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(nm) AS BIGINT) AS nll_micro_total,
           CAST(FLOOR(CAST(SUM(nm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                      + 0.5) AS BIGINT) / 1000000.0 AS avg_nll
    FROM q GROUP BY doc_id ORDER BY doc_id
    """,
    group="text",
    doc="Bigram stupid-backoff LM log-perplexity (Brants 2007; the "
    "CCNet-style held-out quality filter): the LM's bigram/context/"
    "unigram count tables train on the ingested sources "
    "(src0..src9) ONLY, and every document — index and new batch — "
    "is scored by mean negative log-likelihood. Seen bigram: "
    "ln(c1(prev)/c2(prev,w)); unseen bigram: ln(2.5*T/c(w)) (the 0.4 "
    "backoff); unseen unigram floors at c=1; a document's first "
    "token scores against the unigram LM without penalty. Per-token "
    "nll quantizes to micro-unit BIGINTs (every branch >= 0, "
    "floor(x*1e6+0.5) sign-safe); per-doc totals are exact integer "
    "sums. Scale: one token pass builds (doc_id, pos, term, prev) "
    "from the token array zipped with itself shifted by one; one "
    "aggregate over it yields a single (prev, term) pair table "
    "(|bigram vocab| rows — corpus-wide, so never force-broadcast) "
    "whose unigram/context/total counts are window sums; scoring is "
    "one join of the token stream against that table, strategy "
    "chosen by AQE (broadcast when it fits the threshold, a shuffle "
    "join otherwise), + one per-doc aggregate. "
    "At 100 TB the LM tables are built once per reference-corpus "
    "epoch and reused across every incoming batch.",
)
def text_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.dedup import IDX_SOURCE_MAX

    d = load_table(spark, sf_dir, "documents")
    # prev is derived array-side BEFORE the explode: zip the token
    # array with itself shifted one right (null head) and posexplode
    # the pairs. arrays_zip/slice/concat are codegen expressions (NOT
    # interpreted higher-order lambdas — the minhash_wide finding
    # concerned transform() with an index lambda, which measured
    # 2.3-2.8 s vs 1.6-1.9 s; this form has no per-element lambda).
    # The round-9 lag-window form shuffled every document by doc_id
    # and then SORTED the token stream twice — the window subtree sat
    # above the shared exchange and ran once per consuming branch
    # (counts + scoring), which is also why 8 cores beat 32 on it
    # (PERF_r09 scaling 0.34). Now neither branch sorts anything, the
    # only stream-sized shuffles are the map-side-combined final
    # per-doc aggregate and, when AQE cannot broadcast the pair table,
    # the scoring join, and the LM count tables build from an explode
    # with no window. Row-identical: prev[i] = ts[i-1] with a null first token
    # is exactly lag(term) over (doc_id ORDER BY pos). The doc_id
    # repartition stays: it is the shared materialization point that
    # the scoring branch and the counts branch both reuse (single-row-group parquet fixtures scan as
    # ONE task — without the exchange each consumer re-runs the scan
    # and explode serially).
    ts = spread(d, "doc_id").select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    )
    seq = ts.select(
        "doc_id",
        "source",
        F.posexplode(
            F.arrays_zip(
                F.col("ts"),
                F.expr(
                    "concat(array(CAST(NULL AS STRING)), "
                    "slice(ts, 1, size(ts) - 1))"
                ),
            )
        ).alias("pos", "z"),
    ).select(
        "doc_id",
        "source",
        "pos",
        F.col("z.ts").alias("term"),
        F.col("z.1").alias("prev"),
    )
    # ONE pair-level aggregation pass over the token stream feeds
    # EVERYTHING (round-10; guide §1.2 step 1 / §2.3): the round-9
    # form derived uni/big/ctx/tot from a (prev, term) count of the
    # LM subset, but each table fed its own broadcast-exchange
    # subquery, and broadcast subqueries are planned independently —
    # the sf1 stage profile showed the tokenize+count pipeline
    # executed FOUR times (32-task stages of 13-31 s run time each)
    # plus twice more for the scoring branch. Now one aggregate
    # counts every distinct (prev, term, is_lm) triple; the LM count
    # tables AND the complete (prev, term) pair list derive from that
    # pair table; per-pair nll quantizes to nm once; and the stream
    # is touched exactly twice (the pair count + the scoring join on
    # the pair key). Counts are exact integers and the nll/floor
    # expressions are unchanged, so every value is bit-identical to
    # the multi-join form.
    src_is_lm = F.substring("source", 4, 10).cast("int") < IDX_SOURCE_MAX
    pc = seq.groupBy("prev", "term", src_is_lm.alias("is_lm")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # LM tables: pc rows are unique per (prev, term, is_lm), so the
    # is_lm slice is already unique per (prev, term)
    # Collapse to ONE pair table, then derive uni/ctx/tot as WINDOW
    # sums over it instead of self-joins: every join of a
    # counts-derived small table spawns its own broadcast subquery
    # (or, with join hints, its own pruned — hence non-reusable —
    # copy of the pc exchange), and the sf1 stage profile showed each
    # such subtree re-running the 32-task stream aggregation. Window
    # sums share one lineage, so the stream is aggregated exactly
    # once. The pair table is |bigram vocab|-bounded at any corpus
    # size, so the term/prev/global window shuffles are tiny; the
    # single-partition window for t is over that bounded table, never
    # the stream.
    pairs = pc.groupBy("prev", "term").agg(
        F.sum(F.when(F.col("is_lm"), F.col("c"))).alias("c_lm")
    )
    c2 = F.when(F.col("prev").isNotNull(), F.col("c_lm"))
    stats = (
        pairs.withColumn("c", F.sum("c_lm").over(W.partitionBy("term")))
        .withColumn("c2", c2)
        .withColumn("c1", F.sum("c2").over(W.partitionBy("prev")))
        .withColumn("t", F.sum("c_lm").over(W.partitionBy()))
    )
    nll = (
        F.when(
            F.col("prev").isNotNull() & F.col("c2").isNotNull(),
            F.log(F.col("c1").cast("double") / F.col("c2").cast("double")),
        )
        .when(
            F.col("prev").isNotNull(),
            F.log(
                (F.lit(BACKOFF_INV) * F.col("t").cast("double"))
                / F.coalesce("c", F.lit(1)).cast("double")
            ),
        )
        .otherwise(
            F.log(
                F.col("t").cast("double")
                / F.coalesce("c", F.lit(1)).cast("double")
            )
        )
    )
    pair_nm = stats.select(
        F.col("prev").alias("p_prev"),
        F.col("term").alias("p_term"),
        F.floor(nll * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("nm"),
    )
    # no broadcast hint: the pair table grows with the corpus's bigram
    # vocabulary, so AQE picks the join strategy from its real size
    scored = seq.join(
        pair_nm,
        (F.col("term") == F.col("p_term"))
        & F.col("prev").eqNullSafe(F.col("p_prev")),
    ).select("doc_id", "nm")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("nm").cast("bigint").alias("nll_micro_total"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_micro_total",
            # half-up at micro precision in exact integers (exactmath)
            (
                F.floor(
                    F.col("nll_micro_total").cast("double")
                    / F.col("n_tokens").cast("double")
                    + F.lit(0.5)
                ).cast("bigint")
                / F.lit(1000000.0)
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )
