"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus is never consumed whole: pipelines carve reproducible
subsets (smoke-test slices, eval holdouts, train/val/test splits,
per-language quotas). Random sampling (``df.sample``) is
seed-and-partitioning dependent — a repartition or executor loss
changes the sample. These operators derive membership from a
content-stable hash (md5 of the key, the same construction as
operators/text.py's token hash), so the sample is a pure function of
the data: identical across engines, runs, partitionings and retries,
and cheap — membership is a narrow per-row predicate the scan
evaluates (no shuffle at all for the bernoulli form).

Reference parity: the reference has no sampling surface at all (its
largest exercised workload is 100 rows/table, test_cdc.py:79-88);
these are north-star extensions per SURVEY §2C NS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import spread
from flink_stream_spark.operators.registry import register
from flink_stream_spark.operators.text import _tok_hash_spark, tok_hash_duck


def hash_bucket(col, buckets: int = 100):
    """Stable [0, buckets) bucket of any key column — md5-derived, so
    identical in Spark and DuckDB and independent of partitioning."""
    return _tok_hash_spark(col.cast("string")) % buckets


def _bucket_duck(expr: str, buckets: int = 100) -> str:
    return f"{tok_hash_duck(f'CAST({expr} AS VARCHAR)')} % {buckets}"


@register(
    "sample_hash_bernoulli",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_bucket_duck('doc_id')} < 10
    ORDER BY doc_id
    """,
    group="sampling",
    doc="Deterministic 10% bernoulli sample by md5 hash-bucket of the "
    "key: membership is a per-row scan predicate — no shuffle, no "
    "seed, stable under repartition/retry at any scale.",
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(hash_bucket(F.col("doc_id")) < 10)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "sample_stratified_quota",
    f"""
    SELECT lang, doc_id
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_bucket_duck('doc_id', 1000000007)}, doc_id) AS rn
      FROM documents) t
    WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
    group="sampling",
    doc="Stratified fixed-quota sample: 20 docs per language, chosen "
    "by hash order (a deterministic shuffle) with doc_id tie-break. "
    "One shuffle on the stratum key; per-stratum top-k never "
    "materializes the full stratum on one node beyond the heap-k "
    "window buffer.",
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        hash_bucket(F.col("doc_id"), 1000000007).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@register(
    "sample_train_split",
    f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {_bucket_duck('doc_id')} < 80 THEN 'train'
                  WHEN {_bucket_duck('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    group="sampling",
    doc="Hash-based train/val/test assignment (80/10/10) with "
    "per-(split, lang) counts: the split is a pure function of "
    "doc_id, so train/test never leak into each other across "
    "pipeline runs or engine versions.",
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "lang")
    )


@register(
    "sample_mixture_weights",
    """
    WITH per_source AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    m AS (SELECT MIN(n_docs) AS m_min FROM per_source)
    SELECT source, n_docs,
           CAST((1000000 * m_min) // n_docs AS BIGINT) AS rate_ppm,
           CAST(n_docs * ((1000000 * m_min) // n_docs) // 1000000
                AS BIGINT) AS expected_docs
    FROM per_source CROSS JOIN m
    ORDER BY source
    """,
    group="sampling",
    doc="Mixture-weight solving: per-source downsampling rates that "
    "equalize the source mixture at the largest achievable scale "
    "(capped by the smallest source; no upsampling). The rate table "
    "is |sources| rows from one map-side-combined count — at 100 TB "
    "the rates then drive the hash-bernoulli predicate per source "
    "(sample_hash_bernoulli), so the actual resample is a map-only "
    "scan. Exact integer ppm arithmetic on both engines.",
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    m = per_source.agg(F.min("n_docs").alias("m_min"))
    return (
        per_source.crossJoin(F.broadcast(m))
        .withColumn("rate_ppm", F.expr("(1000000 * m_min) div n_docs").cast("bigint"))
        .select(
            "source",
            "n_docs",
            "rate_ppm",
            F.expr("n_docs * rate_ppm div 1000000").cast("bigint").alias("expected_docs"),
        )
        .orderBy("source")
    )


# Priority sampling (Duffield, Lund & Thorup 2007): a one-pass
# weighted-without-replacement sample. Each item gets priority
# q_i = w_i / u_i with u_i uniform in (0,1]; the sample is the top-k
# by priority. Deterministic here because u_i is the md5 hash of the
# key mapped into (0,1] — a pure function of the data — and q_i is a
# SINGLE IEEE division of exact integers, so both engines compute
# bit-identical priorities. Mergeable: top-k of a union is the top-k
# of per-partition top-ks, which is exactly Spark's TakeOrdered.
PRIORITY_K = 200
_U_DENOM = 1 << 60  # hash is 60 bits (15 hex chars); u in (0, 1]


@register(
    "sample_priority_weighted",
    f"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
             ({tok_hash_duck("'pri:' || CAST(doc_id AS VARCHAR)")} + 1) AS h
      FROM documents),
    pri AS (
      SELECT doc_id, weight,
             CAST(weight AS DOUBLE) * {_U_DENOM} / h AS priority
      FROM w)
    SELECT doc_id, weight, CAST(ROUND(priority, 6) AS DOUBLE) AS priority
    FROM pri
    ORDER BY priority DESC, doc_id
    LIMIT {PRIORITY_K}
    """,
    group="sampling",
    doc=f"Priority sampling (Duffield-Lund-Thorup 2007): top-{PRIORITY_K} "
    "documents by priority w/u with u = md5-hash of the key mapped "
    "into (0,1] — a deterministic weighted-without-replacement sample "
    "(weight = token count) that is a pure function of the data. "
    "Scale: one narrow scan pass computing a single IEEE division per "
    "row, then TakeOrderedAndProject — per-partition top-k merged on "
    "the driver, never a global sort; identical under any "
    "partitioning because priorities are bit-identical and ties break "
    "on doc_id.",
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = _tok_hash_spark(
        F.concat(F.lit("pri:"), F.col("doc_id").cast("string"))
    ) + F.lit(1)
    weight = F.size(F.split("text", " ")).cast("bigint")
    # two-step select so weight/hash are named once (no duplicated
    # md5 subtrees in the priority expression)
    pri = (
        d.select("doc_id", weight.alias("__w"), h.alias("__h"))
        .select(
            "doc_id",
            F.col("__w").alias("weight"),
            (
                F.col("__w").cast("double") * F.lit(float(_U_DENOM)) / F.col("__h")
            ).alias("priority"),
        )
    )
    return (
        pri.orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(PRIORITY_K)
        .select("doc_id", "weight", F.round("priority", 6).alias("priority"))
    )


# DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
# public paper): score raw-pool documents by the log-likelihood ratio
# of hashed n-gram features under a target LM vs the raw-pool LM, then
# resample by the importance weights. Feature space = bigrams hashed
# into DSIR_BUCKETS buckets; LMs are add-1-smoothed bucket unigrams.
# The target split here is sources src0..src4 (the "curated" pool),
# the raw pool is the rest — mirroring the paper's
# target-corpus-vs-web-crawl setup on the fixture's source axis.
DSIR_BUCKETS = 1024
DSIR_TARGET_MAX = 5  # sources src0..src4 form the target corpus


def dsir_bigram_buckets(d: DataFrame) -> DataFrame:
    """(doc_id, text, source) -> one row per bigram occurrence with its
    hashed bucket: (doc_id, is_target, b). The shared front half of the
    batch scorer and the streaming LM twin (streaming/scoring.py) — a
    narrow explode, no shuffle, works identically on a stream."""
    split = d.select(
        "doc_id",
        F.split("text", " ").alias("ts"),
        (F.substring("source", 4, 10).cast("int") < DSIR_TARGET_MAX).alias(
            "is_target"
        ),
    )
    n = F.size("ts")
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), (n - 2).cast("int")),
            lambda i: (
                _tok_hash_spark(
                    F.concat_ws(" ", F.col("ts")[i], F.col("ts")[i + 1])
                )
                % DSIR_BUCKETS
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    return split.select(
        "doc_id", "is_target", F.explode_outer(grams).alias("b")
    ).filter(F.col("b").isNotNull())


@register(
    "sample_dsir_importance",
    f"""
    WITH split AS (
      SELECT doc_id, text,
             CAST(substr(source, 4) AS INT) < {DSIR_TARGET_MAX} AS is_target
      FROM documents),
    toks AS (SELECT doc_id, is_target, string_split(text, ' ') AS ts FROM split),
    big AS (
      SELECT doc_id, is_target,
             {tok_hash_duck("ts[i] || ' ' || ts[i+1]")} % {DSIR_BUCKETS} AS b
      FROM toks, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)),
    tf AS (
      SELECT doc_id, is_target, b, COUNT(*) AS tf
      FROM big GROUP BY doc_id, is_target, b),
    ct AS (SELECT b, SUM(tf) AS c FROM tf WHERE is_target GROUP BY b),
    cr AS (SELECT b, SUM(tf) AS c FROM tf WHERE NOT is_target GROUP BY b),
    tot AS (
      SELECT (SELECT SUM(c) FROM ct) AS nt, (SELECT SUM(c) FROM cr) AS nr),
    lr AS (
      SELECT cr.b,
             CAST(FLOOR(ln(
                    (CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE)
                     * (tot.nr + {DSIR_BUCKETS}))
                    / (CAST(cr.c + 1 AS DOUBLE) * (tot.nt + {DSIR_BUCKETS})))
                  * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
      FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN tot)
    SELECT f.doc_id,
           CAST(SUM(f.tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(f.tf * l.lr_micro) AS BIGINT) AS score_micro,
           CAST(FLOOR(CAST(SUM(f.tf * l.lr_micro) AS DOUBLE)
                      / CAST(SUM(f.tf) AS DOUBLE) + 0.5) AS BIGINT)
             / 1000000.0 AS avg_log_ratio
    FROM tf f JOIN lr l ON l.b = f.b
    WHERE NOT f.is_target
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
    group="sampling",
    doc=f"DSIR importance scores (Xie et al. 2023): bigrams hashed into "
    f"{DSIR_BUCKETS} buckets, add-1-smoothed bucket LMs for the target "
    f"(sources src0..src{DSIR_TARGET_MAX - 1}) and raw pools, and each "
    "raw document scored by its total/average hashed-feature "
    "log-likelihood ratio (resample = weight by exp(score)). Per-BUCKET "
    "log-ratios quantize to micro-unit BIGINTs (floor(x*1e6+0.5), "
    "sign-safe — ratios can be negative), so per-doc totals are exact "
    "integer sums with no cross-engine double accumulation. Scale: the "
    "bigram explode is narrow; LM state is <= 2x" + str(DSIR_BUCKETS) + " "
    "rows however large the corpus; the score join broadcasts the "
    "bucket table. This composes with sample_temperature_resample / "
    "sample_priority_weighted for the actual resampling step.",
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    big = dsir_bigram_buckets(spread(d, "doc_id"))
    tf = big.groupBy("doc_id", "is_target", "b").agg(F.count(F.lit(1)).alias("tf"))
    # Both bucket LMs in ONE aggregation over tf (round-9
    # optimization, guide §2.3 "aggregate before you shuffle"): the
    # previous form evaluated the tf subtree separately for ct, cr,
    # and the two totals (4 passes + a crossJoin of two scalar
    # aggregates). Conditional SUMs give exactly the old tables:
    # ct(b) existed iff bucket b had target rows (here: ct IS NOT
    # NULL, consumed through the same COALESCE), cr(b) iff raw rows
    # (here: the filter below), and the totals are one more tiny
    # aggregate over the <= DSIR_BUCKETS-row table.
    ctcr = tf.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), F.col("tf"))).alias("ct"),
        F.sum(F.when(~F.col("is_target"), F.col("tf"))).alias("cr"),
    )
    cr = ctcr.filter(F.col("cr").isNotNull())
    tot = ctcr.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    lr = (
        cr.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                F.log(
                    (
                        (F.coalesce("ct", F.lit(0)) + 1).cast("double")
                        * (F.col("nr") + DSIR_BUCKETS)
                    )
                    / (
                        (F.col("cr") + 1).cast("double")
                        * (F.col("nt") + DSIR_BUCKETS)
                    )
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    return (
        tf.filter("NOT is_target")
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("lr_micro"))
            .cast("bigint")
            .alias("score_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "score_micro",
            # average rounded half-up AT MICRO PRECISION as an exact
            # integer, then ONE identical int->double division in both
            # engines. ROUND(double, 6) here is engine-divergent on
            # representational half-boundaries: Spark rounds the
            # shortest decimal repr (BigDecimal HALF_UP of
            # Double.toString), DuckDB the raw binary double — at
            # sf0.1, 256024/16/1e6 = 0.0160015 landed on opposite
            # sides (0.016002 vs 0.016001). floor(x + 0.5) of the same
            # int-derived double is bit-deterministic in both.
            (
                F.floor(
                    F.col("score_micro").cast("double")
                    / F.col("n_bigrams").cast("double")
                    + F.lit(0.5)
                ).cast("bigint")
                / F.lit(1000000.0)
            ).alias("avg_log_ratio"),
        )
        .orderBy("doc_id")
    )


# Leakage-safe splitting: near-duplicates must never straddle a
# train/val/test boundary, or the held-out sets are contaminated by
# paraphrases/re-crawls of training documents and every eval number
# is inflated (the decontamination literature's canonical failure).
# The fix is structural: split on the NEAR-DUP CLUSTER id, not the
# doc id — every member of a connected component gets the same
# bucket, so leakage across splits is impossible by construction
# rather than filtered after the fact.
def _cluster_split_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.dedup import dedup_cluster_assign

    assigned = dedup_cluster_assign(spark, sf_dir)
    b = hash_bucket(F.col("cluster_id"))
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return assigned.select("doc_id", "cluster_id", split.alias("split"))


def _leakage_split_duck() -> str:
    from flink_stream_spark.operators.dedup import _VERIFIED_CLUSTERED_DUCK

    bucket = _bucket_duck("COALESCE(c.cluster_id, d.doc_id)")
    return (
        _VERIFIED_CLUSTERED_DUCK
        + f"""
    , split_assign AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
             CASE WHEN {bucket} < 80 THEN 'train'
                  WHEN {bucket} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN clustered c ON c.doc = d.doc_id)
"""
    )


@register(
    "sample_leakage_safe_split",
    _leakage_split_duck()
    + """
    SELECT doc_id, cluster_id, split FROM split_assign
    ORDER BY doc_id
    """,
    group="sampling",
    doc="Leakage-safe train/val/test split: every document is bucketed "
    "by the md5 hash of its NEAR-DUP CLUSTER id (connected components "
    "over the Jaccard-verified MinHash-LSH pair graph — the "
    "dedup_cluster_assign machinery), 80/10/10, so near-duplicates "
    "can never straddle a split boundary and eval contamination by "
    "paraphrases/re-crawls of training docs is impossible by "
    "construction (vs doc_id-hash splitting, which leaks every "
    "near-dup pair whose members hash apart). Scale: the split "
    "column is a pure function of cluster_id — zero cost beyond the "
    "cluster assignment itself (pointer-doubled components, "
    "O(log diameter) rounds); the hash split is "
    "partitioning-independent, so the assignment is stable under "
    "any repartition or incremental recompute.",
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_split_frame(spark, sf_dir).orderBy("doc_id")


@register(
    "sample_leakage_split_audit",
    _leakage_split_duck()
    + """
    , per_split AS (
      SELECT split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
      FROM split_assign GROUP BY split),
    straddlers AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky_clusters FROM (
        SELECT cluster_id FROM split_assign
        GROUP BY cluster_id HAVING COUNT(DISTINCT split) > 1))
    SELECT p.split, p.n_docs, p.n_clusters, s.n_leaky_clusters
    FROM per_split p CROSS JOIN straddlers s
    ORDER BY p.split
    """,
    group="sampling",
    doc="Audit of the leakage-safe split: per-split doc and cluster "
    "counts plus the number of clusters whose members straddle more "
    "than one split — ZERO by construction (the split is a function "
    "of cluster_id), and this query PROVES it on the data rather "
    "than asserting it, the shape a data-governance check runs "
    "before a training launch. Scale: two hash aggregations over "
    "(cluster_id, split) pairs; no join against the corpus beyond "
    "the cluster assignment.",
)
def sample_leakage_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _cluster_split_frame(spark, sf_dir)
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    straddlers = (
        assigned.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("__ns"))
        .filter(F.col("__ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaky_clusters"))
    )
    return (
        per_split.crossJoin(F.broadcast(straddlers))
        .select("split", "n_docs", "n_clusters", "n_leaky_clusters")
        .orderBy("split")
    )
