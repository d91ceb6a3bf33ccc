"""Remaining SURVEY §2 coverage: reference verification-query mirrors,
stream-static enrichment, approximate sketches."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import TABLES, load_table, load_tables
from flink_stream_spark.operators.layout import sorted_result
from flink_stream_spark.operators.registry import register


@register(
    "scan_full_orderby",
    """
    SELECT c_custkey AS user_id, c_name AS email
    FROM customer ORDER BY user_id
    """,
    group="scan",
    doc="Full scan + ORDER BY key — the reference's Postgres-side "
    "verification query (test_cdc.py:131-132).",
)
def scan_full_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("user_id"), F.col("c_name").alias("email")
    ).orderBy("user_id")


@register(
    "scan_recent_topn",
    """
    SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type
    FROM events ORDER BY ts DESC, event_id LIMIT 10
    """,
    group="scan",
    doc="ORDER BY ts DESC LIMIT 10 — the reference's Trino "
    "verification query (README.md:177-178); TakeOrderedAndProject, "
    "no global sort.",
)
def scan_recent_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_id", F.unix_millis("ts").alias("ts_ms"), "event_type")
        .orderBy(F.col("ts_ms").desc(), "event_id")
        .limit(10)
    )


@register(
    "events_enrich_static_join",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           CAST(e.value AS DOUBLE) AS value
    FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
    ORDER BY e.event_id
    """,
    group="streaming",
    doc="Stream-static enrichment join (batch twin): the unbounded side "
    "joins a broadcast dim — at scale the stream never shuffles.",
)
def events_enrich_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id + 1 == c.c_custkey)
        .select(
            "event_id",
            "user_id",
            F.col("c_mktsegment").alias("segment"),
            F.col("value").cast("double").alias("value"),
        )
        .orderBy("event_id")
    )


@register(
    "catalog_list_tables",
    f"""
    SELECT table_name AS name FROM information_schema.tables
    WHERE table_name IN ({", ".join(repr(t) for t in TABLES)})
    ORDER BY name
    """,
    group="maintenance",
    doc="Catalog introspection (SHOW TABLES): the reference's "
    "information_schema scan (snapshot_mgmt.py:13-14) over the bound "
    "fixture tables.",
)
def catalog_list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    names = sorted(
        t.name
        for t in spark.catalog.listTables()
        if t.name in TABLES and t.isTemporary
    )
    return spark.createDataFrame([(n,) for n in names], "name string")


@register(
    "events_interval_join",
    """
    SELECT a.event_id AS purchase_id, b.event_id AS click_id,
           CAST(epoch_ms(a.ts) - epoch_ms(b.ts) AS BIGINT) AS lag_ms
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'purchase' AND b.event_type = 'click'
     AND b.ts <= a.ts
     AND b.ts > a.ts - INTERVAL 10 MINUTE
    ORDER BY purchase_id, click_id
    """,
    group="streaming",
    doc="Interval join (purchase ⋈ clicks within a 10-minute lookback, "
    "per user): the batch twin of a stream-stream join with a time "
    "bound — equi key on user plus a range residual, so the plan is a "
    "hash join with a post-filter, never a cartesian.",
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").alias("a")
    b = e.filter(F.col("event_type") == "click").alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") <= F.col("a.ts"))
            & (F.col("b.ts") > F.col("a.ts") - F.expr("INTERVAL 10 MINUTES")),
        )
        .select(
            F.col("a.event_id").alias("purchase_id"),
            F.col("b.event_id").alias("click_id"),
            (F.unix_millis("a.ts") - F.unix_millis("b.ts")).alias("lag_ms"),
        )
        .orderBy("purchase_id", "click_id")
    )


@register(
    "events_asof_join",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'click' THEN epoch_ms(ts) END AS click_ms
      FROM events WHERE event_type IN ('purchase', 'click')),
    filled AS (
      SELECT *, MAX(click_ms) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS last_click_ms
      FROM tagged)
    SELECT event_id AS purchase_id,
           CAST(last_click_ms AS BIGINT) AS asof_click_ms,
           CAST(epoch_ms(ts) - last_click_ms AS BIGINT) AS since_click_ms
    FROM filled
    WHERE event_type = 'purchase' AND last_click_ms IS NOT NULL
    ORDER BY purchase_id
    """,
    group="streaming",
    doc="As-of (backward) join: each purchase matched to the latest "
    "click at-or-before it, per user — expressed as a running MAX "
    "over the merged event stream (one window shuffle; no per-group "
    "merge_asof UDF needed).",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.unix_millis("ts")).alias("click_ms"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    filled = tagged.withColumn("last_click_ms", F.max("click_ms").over(w))
    return (
        filled.filter(
            (F.col("event_type") == "purchase") & F.col("last_click_ms").isNotNull()
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("last_click_ms").cast("bigint").alias("asof_click_ms"),
            (F.unix_millis("ts") - F.col("last_click_ms"))
            .cast("bigint")
            .alias("since_click_ms"),
        )
        .orderBy("purchase_id")
    )


@register(
    "scalar_unpivot",
    """
    SELECT s_suppkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS val FROM supplier
      UNION ALL
      SELECT s_suppkey, 'nationkey' AS metric, CAST(s_nationkey AS DOUBLE) AS val FROM supplier)
    ORDER BY s_suppkey, metric
    """,
    group="scalar",
    doc="Unpivot via stack(): wide → long without N scans.",
)
def scalar_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.selectExpr(
            "s_suppkey",
            "stack(2, 'acctbal', CAST(s_acctbal AS DOUBLE), "
            "'nationkey', CAST(s_nationkey AS DOUBLE)) AS (metric, val)",
        )
        .orderBy("s_suppkey", "metric")
    )


@register(
    "subquery_correlated",
    """
    SELECT p.p_partkey, p.p_brand, CAST(p.p_retailprice AS DOUBLE) AS p_retailprice
    FROM part p
    WHERE p.p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                             WHERE p2.p_brand = p.p_brand)
    ORDER BY p.p_partkey
    """,
    group="subquery",
    doc="Correlated scalar subquery (cheapest part per brand) — "
    "Catalyst decorrelates it into an aggregate + join.",
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("_sc_part")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, CAST(p.p_retailprice AS DOUBLE) AS p_retailprice
        FROM _sc_part p
        WHERE p.p_retailprice = (SELECT MIN(p2.p_retailprice) FROM _sc_part p2
                                 WHERE p2.p_brand = p.p_brand)
        ORDER BY p.p_partkey
        """
    )


@register(
    "agg_percentile_approx",
    """
    SELECT l_returnflag,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS DOUBLE) AS p50,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS DOUBLE) AS p95,
           TRUE AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    group="aggregation",
    doc="approx percentile sketch (KLL/GK family) — the scale path for "
    "quantiles; exact quantile needs a global sort at 100 TB. Gate "
    "form: the sketch estimate must land within 5% of the exact "
    "percentile (both engines compute the same linear-interpolated "
    "exact quantile; the exact columns exist to make the tolerance "
    "check a stable hash — production use is the bare sketch).",
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("approx"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))").alias("exact"),
    )
    tol = (
        (F.abs(F.col("approx")[0] - F.col("exact")[0]) <= 0.05 * F.col("exact")[0])
        & (F.abs(F.col("approx")[1] - F.col("exact")[1]) <= 0.05 * F.col("exact")[1])
    )
    return agg.select(
        "l_returnflag",
        F.round(F.col("exact")[0], 6).alias("p50"),
        F.round(F.col("exact")[1], 6).alias("p95"),
        tol.alias("within_tol"),
    ).orderBy("l_returnflag")


@register(
    "agg_hll_sketch_merge",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    group="aggregation",
    doc="MERGEABLE HLL sketches: per-(returnflag, linestatus) partial "
    "sketches union-merged up to per-returnflag estimates — the "
    "re-aggregatable rollup pattern a 100 TB pipeline uses to keep "
    "distinct-count cubes incremental (store partial sketches, merge "
    "on read; approx_count_distinct alone cannot re-aggregate). Gate "
    "form checks the merged estimate lands within 10% of exact.",
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    partial = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("hll_sketch_agg(l_orderkey, 14)").alias("sk"),
        F.countDistinct("l_orderkey").alias("ed"),
    )
    merged = partial.groupBy("l_returnflag").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return (
        merged.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("est") - F.col("exact_orders"))
                / F.col("exact_orders").cast("double")
                <= 0.10
            ).alias("within_tol"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_salted_two_phase",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    group="aggregation",
    doc="Skew-resilient two-phase aggregation: l_returnflag has only "
    "3 values, so a single-phase final aggregate funnels the corpus "
    "into 3 reducer partitions. Phase 1 aggregates on (key, "
    "salt=pmod(xxhash64(l_orderkey),16)) — 48 evenly-sized groups — "
    "phase 2 combines the 48 partials. The salt derives from row "
    "content (never rand/monotonic id), so retries and partial-stage "
    "recomputes reproduce identical partials; revenue partials are "
    "exact scaled-long DECIMALs (operators/money.py), so the re-"
    "aggregation is lossless and hash-matches the plain GROUP BY "
    "oracle. (Spark's own partial-agg usually hides this skew; the "
    "explicit salt is the pattern for when a first-stage combine "
    "can't run — e.g. high-cardinality distinct aggregates.)",
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.money import _rev4

    li = load_table(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey"), F.lit(16))
    partial = li.groupBy("l_returnflag", salt.alias("__salt")).agg(
        F.sum(_rev4().cast("decimal(18,0)")).alias("rev_part"),
        F.count(F.lit(1)).alias("n_part"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            (F.sum("rev_part") / F.lit(10**4).cast("decimal(5,0)"))
            .cast("double")
            .alias("revenue"),
            F.sum("n_part").cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "join_salted_hot_key",
    """
    WITH skewed AS (
      SELECT CASE WHEN o_orderkey % 10 < 4 THEN 1
                  ELSE o_custkey END AS cust_key,
             o_totalprice
      FROM orders)
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM skewed s JOIN customer c ON c.c_custkey = s.cust_key
    GROUP BY 1
    ORDER BY 1
    """,
    group="join",
    doc="Skew-resilient equi-join via plans.scale.salted_join: 40% of "
    "orders are remapped onto ONE customer key (the planted hot key a "
    "real corpus exhibits as a power-law head), which would funnel "
    "those rows into a single shuffle task under a plain hash join. "
    "The salted join replicates the dim side across 16 salt replicas "
    "and scatters left rows by content hash, spreading the hot key "
    "over 16 tasks; output equals the plain join (oracle is the "
    "unsalted SQL). Money summed as DECIMAL(18,2) so the result is "
    "exact. Plan assert: tests/test_plans.py shows the salt-replica "
    "explode and the (key, __salt) join condition.",
)
def join_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.plans.scale import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    left = o.select(
        F.when(F.col("o_orderkey") % 10 < 4, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .cast("long")
        .alias("cust_key"),
        "o_totalprice",
    )
    right = c.select(
        F.col("c_custkey").cast("long").alias("cust_key"), "c_mktsegment"
    )
    j = salted_join(left, right, key="cust_key", how="inner", salt=16)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "events_asof_join_forward",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'click' THEN epoch_ms(ts) END AS click_ms,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
      FROM events WHERE event_type IN ('purchase', 'click')),
    filled AS (
      SELECT *, MIN(click_ms) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ms(ts) DESC, side ASC
                                    ROWS UNBOUNDED PRECEDING) AS next_click_ms
      FROM tagged)
    SELECT event_id AS purchase_id,
           CAST(next_click_ms AS BIGINT) AS asof_next_click_ms,
           CAST(next_click_ms - epoch_ms(ts) AS BIGINT) AS until_click_ms
    FROM filled
    WHERE event_type = 'purchase' AND next_click_ms IS NOT NULL
    ORDER BY purchase_id
    """,
    group="streaming",
    doc="FORWARD as-of join via the general operators.asof.asof_join "
    "(pandas merge_asof semantics, one key shuffle, no range join): "
    "each purchase matched to the earliest click at-or-after it. The "
    "backward variant is events_asof_join; the library operator is "
    "parity-tested against pandas.merge_asof in tests/test_asof.py.",
)
def events_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_millis("ts").alias("t"), "event_id"
    )
    right = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_millis("ts").alias("t")
    )
    j = asof_join(left, right, on="t", by=["user_id"], direction="forward")
    return (
        j.filter(F.col("t_right").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("t_right").cast("bigint").alias("asof_next_click_ms"),
            (F.col("t_right") - F.col("t")).cast("bigint").alias("until_click_ms"),
        )
        .orderBy("purchase_id")
    )


@register(
    "orders_open_backlog_timeseries",
    """
    WITH ship AS (
      SELECT l_orderkey, MAX(l_shipdate) AS shipped
      FROM lineitem GROUP BY l_orderkey),
    deltas AS (
      SELECT CAST(epoch_ms(date_trunc('day', o_orderdate)) AS BIGINT)
               AS day_ms, 1 AS d
      FROM orders
      UNION ALL
      SELECT CAST(epoch_ms(date_trunc('day', shipped)) AS BIGINT)
               + 86400000 AS day_ms, -1 AS d
      FROM ship),
    daily AS (SELECT day_ms, SUM(d) AS delta FROM deltas GROUP BY day_ms)
    SELECT day_ms,
           CAST(SUM(delta) OVER (ORDER BY day_ms
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS open_orders
    FROM daily
    ORDER BY day_ms
    """,
    group="events-analytics",
    doc="Open-order backlog per day (interval stabbing WITHOUT a range "
    "join): each order contributes +1 at its order day and -1 the day "
    "after its last shipment; the running prefix sum of the per-day "
    "deltas IS the number of intervals covering each day. Orders with "
    "no shipped lineitem stay open (never closed). Scale: the O(n) "
    "events aggregate to |days| delta rows BEFORE the single-partition "
    "running sum, so the window touches thousands of rows regardless "
    "of order count — the standard trick that replaces an O(n·days) "
    "range join with two shuffles of bounded keys.",
)
def orders_open_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("shipped"))
    opens = o.select(
        F.unix_millis(F.date_trunc("day", "o_orderdate")).alias("day_ms"),
        F.lit(1).alias("d"),
    )
    closes = ship.select(
        (F.unix_millis(F.date_trunc("day", "shipped")) + 86400000).alias(
            "day_ms"
        ),
        F.lit(-1).alias("d"),
    )
    daily = (
        opens.unionByName(closes).groupBy("day_ms").agg(F.sum("d").alias("delta"))
    )
    w = W.orderBy("day_ms").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day_ms", F.sum("delta").over(w).cast("bigint").alias("open_orders")
    ).orderBy("day_ms")


@register(
    "scalar_bitwise",
    """
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 15 AS BIGINT) AS with_flags,
           CAST(xor(o_orderkey, 255) AS BIGINT) AS toggled,
           CAST(o_orderkey << 2 AS BIGINT) AS shifted_up,
           CAST(o_orderkey >> 3 AS BIGINT) AS shifted_down,
           CAST(bit_count(o_orderkey) AS INTEGER) AS set_bits
    FROM orders
    ORDER BY o_orderkey
    """,
    group="scalar",
    doc="Bitwise function family (&, |, xor, shifts, bit_count) — the "
    "flag-mask / feature-hash arithmetic pipelines use for compact "
    "per-row state. Pure codegen projections; both engines operate on "
    "two's-complement BIGINT, so results are bit-identical. (DuckDB "
    "spells xor as a function — ^ is exponentiation there; Spark "
    "spells it ^.)",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("bigint").alias("low_byte"),
        k.bitwiseOR(F.lit(15)).cast("bigint").alias("with_flags"),
        k.bitwiseXOR(F.lit(255)).cast("bigint").alias("toggled"),
        F.shiftleft(k, 2).cast("bigint").alias("shifted_up"),
        F.shiftright(k, 3).cast("bigint").alias("shifted_down"),
        F.bit_count(k).cast("int").alias("set_bits"),
    ).orderBy("o_orderkey")


# --- count-min sketch heavy hitters --------------------------------------
#
# Second mergeable-sketch family next to agg_hll_sketch_merge: a
# D x W count-min sketch (Cormode & Muthukrishnan 2005) with fixed
# md5-derived hash rows, so both engines build the identical counter
# table and the point estimates are exactly reproducible. Counters are
# plain sums -> partial aggregation map-side, and sketches from any
# partitioning merge by cell-wise addition.
#
# Sizing is a USER ACCURACY PARAMETER, not a scale hazard: the sketch
# state is D x W cells regardless of corpus size, and the estimate
# error bound is n·e/W — at a larger corpus one sizes W to the
# desired absolute error (W = e·n/err), which changes memory only
# linearly in W and leaves every plan shape identical. The fixture
# values are small so the oracle's exact twin stays cheap to verify.
CMS_DEPTH = 4
CMS_WIDTH = 64


def _cms_bucket_duck(i: str, key: str) -> str:
    return f"CAST('0x' || substr(md5({i} || ':' || {key}), 1, 15) AS BIGINT) % {CMS_WIDTH}"


def _cms_bucket_spark(i, key):
    return (
        F.conv(
            F.substring(F.md5(F.concat(i.cast("string"), F.lit(":"), key.cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % CMS_WIDTH
    )


@register(
    "agg_heavy_hitters_cms",
    f"""
    WITH keys AS (SELECT o_custkey AS k FROM orders),
    hrows AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS i),
    cells AS (
      SELECT i, {_cms_bucket_duck('i', 'k')} AS b, COUNT(*) AS c
      FROM keys, hrows GROUP BY 1, 2),
    exact AS (
      SELECT k, COUNT(*) AS exact_cnt FROM keys GROUP BY k
      ORDER BY exact_cnt DESC, k LIMIT 10),
    est AS (
      SELECT e.k, e.exact_cnt, MIN(c.c) AS cms_est
      FROM exact e CROSS JOIN hrows r
        JOIN cells c ON c.i = r.i AND c.b = {_cms_bucket_duck('r.i', 'e.k')}
      GROUP BY e.k, e.exact_cnt)
    SELECT CAST(k AS BIGINT) AS custkey,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est
    FROM est ORDER BY exact_cnt DESC, custkey
    """,
    group="agg",
    doc=f"Count-min-sketch heavy hitters over orders.o_custkey: a "
    f"{CMS_DEPTH}x{CMS_WIDTH} CMS with fixed md5-derived hash rows is "
    "built distributed (counters are sums — map-side combine, "
    "cell-wise mergeable under ANY partitioning), then the top-10 "
    "exact keys are point-queried against it (estimate = min over "
    "rows of the key's counter; CMS guarantees estimate >= exact). "
    "Scale: the sketch is the 100 TB path — the corpus shuffles into "
    f"{CMS_DEPTH * CMS_WIDTH} cells total; the exact top-10 here is "
    "the verification twin showing the overestimate bound, same "
    "pattern as agg_percentile_approx's GATE form.",
)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    hashes = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                _cms_bucket_spark(F.lit(i), F.col("k")).alias("b"),
            )
            for i in range(CMS_DEPTH)
        ]
    )
    cells = (
        o.select(F.explode(hashes).alias("h"))
        .groupBy(F.col("h.i").alias("i"), F.col("h.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        o.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("k"))
        .limit(10)
    )
    probes = exact.select(
        "k", "exact_cnt", F.explode(hashes).alias("h")
    ).select("k", "exact_cnt", F.col("h.i").alias("i"), F.col("h.b").alias("b"))
    return (
        probes.join(F.broadcast(cells), ["i", "b"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(
            F.col("k").cast("bigint").alias("custkey"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
        )
        .transform(sorted_result, "exact_cnt", "custkey", ascending=[False, True])
    )


@register(
    "dq_constraint_report",
    """
    WITH checks AS (
      SELECT 'orders_pk_unique' AS constraint_name, 'orders' AS tbl,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders_fk_customer', 'orders',
             CAST(COUNT(*) AS BIGINT)
      FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'lineitem_fk_orders', 'lineitem',
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'lineitem_qty_range', 'lineitem',
             CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
                  AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_discount_range', 'lineitem',
             CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END)
                  AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'orders_date_not_null', 'orders',
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem_price_positive', 'lineitem',
             CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)
                  AS BIGINT)
      FROM lineitem)
    SELECT constraint_name, tbl, n_violations, n_violations = 0 AS passed
    FROM checks
    ORDER BY constraint_name
    """,
    group="scan",
    doc="Deequ-style declarative data-quality report over the warehouse "
    "(the generalization of the reference's row-count/key verification "
    "queries, test_cdc.py:79-96): primary-key uniqueness, two "
    "referential-integrity checks (anti-join form — never a row "
    "explode), range constraints, null rate, and a positivity "
    "invariant, each reduced to a violation count + pass "
    "flag. Scale: every check is a scan-side aggregate or a broadcast "
    "anti-join against a key projection; the report is |constraints| "
    "rows. One pass per table group (Catalyst shares the scans via "
    "ReusedExchange where eligible).",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def row(name, tbl, viol_df):
        return viol_df.select(
            F.lit(name).alias("constraint_name"),
            F.lit(tbl).alias("tbl"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )

    checks = [
        row(
            "orders_pk_unique",
            "orders",
            o.agg(
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
                    "n_violations"
                )
            ),
        ),
        row(
            "orders_fk_customer",
            "orders",
            o.join(
                c.select("c_custkey"),
                o["o_custkey"] == c["c_custkey"],
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("n_violations")),
        ),
        row(
            "lineitem_fk_orders",
            "lineitem",
            li.join(
                o.select("o_orderkey"),
                li["l_orderkey"] == o["o_orderkey"],
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("n_violations")),
        ),
        row(
            "lineitem_qty_range",
            "lineitem",
            li.agg(
                F.sum(
                    F.when(F.col("l_quantity").between(1, 50), 0).otherwise(1)
                ).alias("n_violations")
            ),
        ),
        row(
            "lineitem_discount_range",
            "lineitem",
            li.agg(
                F.sum(
                    F.when(F.col("l_discount").between(0.0, 0.1), 0).otherwise(1)
                ).alias("n_violations")
            ),
        ),
        row(
            "orders_date_not_null",
            "orders",
            o.agg(
                F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias(
                    "n_violations"
                )
            ),
        ),
        row(
            "lineitem_price_positive",
            "lineitem",
            li.agg(
                F.sum(
                    F.when(F.col("l_extendedprice") > 0, 0).otherwise(1)
                ).alias("n_violations")
            ),
        ),
    ]
    from functools import reduce

    report = reduce(lambda x, y: x.unionAll(y), checks)
    return report.select(
        "constraint_name",
        "tbl",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("constraint_name")


# --- KMV / theta distinct sketch -------------------------------------
# k-minimum-values sketch (Bar-Yossef et al. 2002; the Theta sketch of
# the DataSketches library is its generalization): keep the K smallest
# 60-bit hashes of the distinct elements; estimate distinct count as
# (K-1) / theta with theta = h_K / 2^60. Mergeable: the K smallest of a
# union of per-partition K-minimum sets IS the K-minimum set of the
# union — demonstrated here by building the '*ALL*' rollup row from the
# per-group sketches, never from the raw data. Mirrors the reference's
# analytical distinct-count surface (Trino/Flink approx_distinct,
# README.md:177) with a sketch that is exactly reproducible cross-engine.
KMV_K = 64
_KMV_SALTS = 256  # level-1 fanout: bounds per-window rows, kills skew


@register(
    "agg_kmv_distinct_sketch",
    f"""
    WITH h AS (
      SELECT DISTINCT l_returnflag AS g,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM lineitem),
    sk AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
           FROM h),
    kept AS (SELECT g, h FROM sk WHERE rn <= {KMV_K}),
    msk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
            FROM (SELECT DISTINCT h FROM kept)),
    allk AS (SELECT g, h FROM kept
             UNION ALL
             SELECT '*ALL*' AS g, h FROM msk WHERE rn <= {KMV_K}),
    est AS (SELECT g, COUNT(*) AS cnt, MAX(h) AS hk FROM allk GROUP BY g),
    exact AS (
      SELECT l_returnflag AS g, COUNT(DISTINCT l_partkey) AS x
      FROM lineitem GROUP BY g
      UNION ALL
      SELECT '*ALL*', COUNT(DISTINCT l_partkey) FROM lineitem)
    SELECT e.g AS group_key,
           CAST(CASE WHEN e.cnt < {KMV_K} THEN e.cnt
                ELSE ({KMV_K - 1} * {1 << 40})
                     // GREATEST(e.hk // {1 << 20}, 1) END AS BIGINT)
             AS est_distinct,
           CAST(x.x AS BIGINT) AS exact_distinct
    FROM est e JOIN exact x ON e.g = x.g
    ORDER BY group_key
    """,
    group="agg",
    doc=f"KMV (k-minimum-values / theta) distinct sketch over "
    f"lineitem.l_partkey per l_returnflag, K={KMV_K}: keep the K "
    "smallest md5-derived 60-bit hashes per group, estimate "
    "n = (K-1)/theta with theta = h_K/2^60 in pure bigint arithmetic "
    "(bit-identical in Spark and DuckDB — no floats). The '*ALL*' row "
    "is built by MERGING the per-group sketches (K smallest of the "
    "union of K-minimum sets), proving mergeability — the rollup never "
    "re-reads raw data. Scale: the K-smallest selection is two-level — "
    f"level 1 windows on (group, h%{_KMV_SALTS}) so no single task ever "
    "sorts a whole group's distinct hashes (returnflag has 3 values — "
    "a naive per-group window is maximally skewed), level 2 ranks the "
    f"<= {_KMV_SALTS}*K survivors per group. Sketch state is O(K) per "
    "group regardless of corpus size; exact-distinct twin shown "
    "alongside, same GATE pattern as agg_heavy_hitters_cms.",
)
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from flink_stream_spark.operators.text import _tok_hash_spark

    li = load_table(spark, sf_dir, "lineitem")
    # ONE distinct pass over lineitem shared by the sketch AND both
    # exact-distinct twins (round-9 optimization, guide §1.2 step 1 /
    # §2.4): the previous form ran three full-table aggregations —
    # distinct (g, hash), per-group count_distinct, global
    # count_distinct. All three derive exactly from distinct
    # (g, l_partkey): the hash table by projecting the md5 hash (with
    # a distinct to preserve the original's hash-level dedup
    # semantics — a no-op unless md5 collides), the per-group exact
    # by COUNT(*), the global exact by a second distinct on the small
    # table. Map-side partial dedup means the one shuffle carries
    # ~|distinct| rows, and every downstream aggregate runs on the
    # |distinct|-sized table, never lineitem.
    dpk = li.select(
        F.col("l_returnflag").alias("g"), "l_partkey"
    ).distinct()
    # One repartition of the |distinct|-sized table right after the
    # distinct, and EVERY consumer (hash sketch, per-group exact,
    # global exact) derives from it (round-10): the exchange's child
    # is byte-identical for all three, so AQE reuses it and lineitem
    # is scanned+aggregated ONCE — previously each consumer's
    # aggregate collapsed onto the scan (RemoveRedundantAggregates)
    # or pruned differently, and the sf1 stage profile showed FOUR
    # full-table aggregation stages. The repartition keys reference
    # both columns so column pruning cannot narrow any consumer's
    # copy of the subtree; it shuffles only distinct rows.
    dpk = dpk.repartition("l_partkey", "g")
    h = dpk.select(
        "g", _tok_hash_spark(F.col("l_partkey").cast("string")).alias("h")
    ).distinct()
    # level 1: K smallest per (g, salt) — bounded, skew-free windows
    lvl1 = (
        h.withColumn("salt", F.pmod("h", F.lit(_KMV_SALTS)))
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("g", "salt").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .drop("salt", "rn")
    )
    # level 2: K smallest per g over the <=SALTS*K survivors
    kept = (
        lvl1.withColumn(
            "rn", F.row_number().over(W.partitionBy("g").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    # merged '*ALL*' sketch from the per-group sketches
    # (mergeability). Derived IN the kept lineage via explode rather
    # than a second kept-consuming union branch: the union form
    # re-ran the whole distinct-hash pipeline (scan + aggregation +
    # both window levels) a second time at runtime — consumers of a
    # DataFrame duplicate its plan, and differential pruning kept AQE
    # from reusing the exchanges (round-10 sf1 stage profile: two
    # identical 32-task scan stages). Here each kept row explodes
    # into its own group plus, for exactly one representative row of
    # each of the K smallest distinct h values, the '*ALL*' group:
    # dense_rank over h picks the K smallest DISTINCT values
    # (== the old distinct().orderBy(h).limit(K)), row_number==1
    # keeps one copy when the same h sits in several group sketches.
    # Both windows run over the K*salts*|groups|-bounded kept table.
    rn_all = F.dense_rank().over(W.orderBy("h"))
    rn_dup = F.row_number().over(W.partitionBy("h").orderBy("g"))
    est = (
        kept.withColumn(
            "gs",
            F.when(
                (rn_all <= KMV_K) & (rn_dup == 1),
                F.array(F.col("g"), F.lit("*ALL*")),
            ).otherwise(F.array(F.col("g"))),
        )
        .select(F.explode("gs").alias("g"), "h")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("hk"))
        .select(
            "g",
            F.when(F.col("cnt") < KMV_K, F.col("cnt"))
            .otherwise(
                F.expr(
                    f"({KMV_K - 1} * {1 << 40}) div "
                    f"greatest(hk div {1 << 20}, 1L)"
                )
            )
            .cast("bigint")
            .alias("est_distinct"),
        )
    )
    # both twins consume the pinned dpk exchange; the repartition
    # node between the two aggregates also keeps Catalyst's
    # RemoveRedundantAggregates from collapsing distinct(partkey)
    # over distinct(g, partkey) back onto a lineitem scan
    exact = (
        dpk.groupBy("g")
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
        .unionAll(
            dpk.select("l_partkey")
            .distinct()
            .agg(F.count(F.lit(1)).alias("exact_distinct"))
            .select(F.lit("*ALL*").alias("g"), "exact_distinct")
        )
    )
    return (
        # shuffle-hash, not broadcast: both sides are <= |groups|+1
        # rows, but a broadcast build side becomes an INDEPENDENT
        # subquery execution that re-runs the whole dpk pipeline
        # (second full lineitem scan at runtime); a shuffle join
        # keeps both sides in one plan so the pinned dpk exchange is
        # genuinely computed once, and the shuffled data is 4 rows.
        est.join(exact.hint("shuffle_hash"), "g")
        .select(
            F.col("g").alias("group_key"),
            "est_distinct",
            F.col("exact_distinct").cast("bigint"),
        )
        .orderBy("group_key")
    )


# Theta-sketch SET OPERATIONS on KMV sketches (the DataSketches
# union/intersection rules): retain the K smallest distinct hashes per
# set; theta(set) = h_K/2^60 when the sketch is full, 1 otherwise.
# Union = K smallest of the merged retained sets. Intersection =
# hashes retained by BOTH sets below theta = min(theta_A, theta_B),
# estimate = |matching| / theta. All arithmetic pure bigint, so the
# estimates are bit-identical cross-engine.
_KMV_FULL = 1 << 60  # theta numerator when a sketch is not full


@register(
    "agg_kmv_set_ops",
    f"""
    WITH src AS (
      SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr, l_partkey
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)),
    h AS (
      SELECT DISTINCT yr,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM src),
    sk AS (SELECT yr, h, ROW_NUMBER() OVER (PARTITION BY yr ORDER BY h) AS rn
           FROM h),
    kept AS (SELECT yr, h FROM sk WHERE rn <= {KMV_K}),
    st AS (  -- per-set retained count and theta
      SELECT yr, COUNT(*) AS cnt,
             CASE WHEN COUNT(*) < {KMV_K} THEN {_KMV_FULL}
                  ELSE MAX(h) END AS theta
      FROM kept GROUP BY yr),
    mrg AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
            FROM (SELECT DISTINCT h FROM kept)),
    uest AS (
      SELECT COUNT(*) AS cnt, MAX(h) AS hk FROM mrg WHERE rn <= {KMV_K}),
    tmin AS (SELECT MIN(theta) AS th FROM st),
    inter AS (
      SELECT COUNT(*) AS n FROM kept a JOIN kept b
        ON a.h = b.h AND a.yr = 1996 AND b.yr = 1997
      WHERE a.h < (SELECT th FROM tmin)),
    ex AS (
      SELECT
        (SELECT COUNT(DISTINCT l_partkey) FROM src WHERE yr = 1996) AS xa,
        (SELECT COUNT(DISTINCT l_partkey) FROM src WHERE yr = 1997) AS xb,
        (SELECT COUNT(DISTINCT l_partkey) FROM src) AS xu,
        (SELECT COUNT(*) FROM
          (SELECT DISTINCT l_partkey FROM src WHERE yr = 1996
           INTERSECT
           SELECT DISTINCT l_partkey FROM src WHERE yr = 1997)) AS xi),
    est AS (
      SELECT 'a_1996' AS op,
             (SELECT CASE WHEN cnt < {KMV_K} THEN cnt
                     ELSE ({KMV_K - 1} * {1 << 40})
                          // GREATEST(theta // {1 << 20}, 1) END
              FROM st WHERE yr = 1996) AS est,
             (SELECT xa FROM ex) AS exact
      UNION ALL
      SELECT 'b_1997',
             (SELECT CASE WHEN cnt < {KMV_K} THEN cnt
                     ELSE ({KMV_K - 1} * {1 << 40})
                          // GREATEST(theta // {1 << 20}, 1) END
              FROM st WHERE yr = 1997),
             (SELECT xb FROM ex)
      UNION ALL
      SELECT 'union',
             (SELECT CASE WHEN cnt < {KMV_K} THEN cnt
                     ELSE ({KMV_K - 1} * {1 << 40})
                          // GREATEST(hk // {1 << 20}, 1) END
              FROM uest),
             (SELECT xu FROM ex)
      UNION ALL
      SELECT 'intersect',
             (SELECT n FROM inter) * {1 << 40}
               // GREATEST((SELECT th FROM tmin) // {1 << 20}, 1),
             (SELECT xi FROM ex))
    SELECT op, CAST(est AS BIGINT) AS est_distinct,
           CAST(exact AS BIGINT) AS exact_distinct
    FROM est ORDER BY op
    """,
    group="agg",
    doc="Theta-sketch SET OPERATIONS on KMV sketches: distinct parts "
    "shipped in 1996 (A) and 1997 (B), their union (K smallest of the "
    "merged retained sets — pure sketch merge), and their "
    "INTERSECTION by the theta rule: theta = min(theta_A, theta_B), "
    "candidates = hashes retained by both sets below theta, estimate "
    "= |matching|/theta — all in pure bigint arithmetic, bit-identical "
    "cross-engine; a non-full sketch takes theta = 1 so small sets "
    "stay EXACT. Exact twins alongside each estimate (the GATE "
    "pattern). Scale: set algebra runs entirely on O(K)-row retained "
    "sketches — the corpus is touched once to build per-set sketches "
    "(two-level skew-free selection as in agg_kmv_distinct_sketch); "
    "union/intersection of ANY number of 100 TB-derived sketches is "
    "driver-feasible at K rows each.",
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from flink_stream_spark.operators.text import _tok_hash_spark

    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.year("l_shipdate").alias("yr"), "l_partkey"
    ).filter(F.col("yr").isin(1996, 1997))
    h = src.select(
        "yr", _tok_hash_spark(F.col("l_partkey").cast("string")).alias("h")
    ).distinct()
    lvl1 = (
        h.withColumn("salt", F.pmod("h", F.lit(_KMV_SALTS)))
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("yr", "salt").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .drop("salt", "rn")
    )
    kept = (
        lvl1.withColumn(
            "rn", F.row_number().over(W.partitionBy("yr").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
        .localCheckpoint(eager=True)  # 2K rows; feeds 4 consumers
    )
    est_expr = F.when(F.col("cnt") < KMV_K, F.col("cnt")).otherwise(
        F.expr(
            f"({KMV_K - 1} * {1 << 40}) div greatest(theta div {1 << 20}, 1L)"
        )
    )
    st = kept.groupBy("yr").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.when(F.count(F.lit(1)) < KMV_K, F.lit(_KMV_FULL))
        .otherwise(F.max("h"))
        .alias("theta"),
    )
    uest = (
        kept.select("h")
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("h").alias("theta"))
    )
    tmin = st.agg(F.min("theta").alias("th"))
    ka = kept.filter(F.col("yr") == 1996).select("h")
    kb = kept.filter(F.col("yr") == 1997).select("h")
    inter_n = (
        ka.join(kb, "h")
        .join(F.broadcast(tmin), F.col("h") < F.col("th"), "inner")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exact_ab = src.groupBy("yr").agg(
        F.count_distinct("l_partkey").alias("exact")
    )
    exact_u = src.agg(F.count_distinct("l_partkey").alias("exact"))
    exact_i = (
        src.filter(F.col("yr") == 1996)
        .select("l_partkey")
        .intersect(src.filter(F.col("yr") == 1997).select("l_partkey"))
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    a_row = (
        st.filter(F.col("yr") == 1996)
        .select(F.lit("a_1996").alias("op"), est_expr.alias("est_distinct"))
        .crossJoin(exact_ab.filter(F.col("yr") == 1996).select("exact"))
    )
    b_row = (
        st.filter(F.col("yr") == 1997)
        .select(F.lit("b_1997").alias("op"), est_expr.alias("est_distinct"))
        .crossJoin(exact_ab.filter(F.col("yr") == 1997).select("exact"))
    )
    u_row = uest.select(
        F.lit("union").alias("op"), est_expr.alias("est_distinct")
    ).crossJoin(exact_u)
    i_row = (
        inter_n.crossJoin(tmin)
        .select(
            F.lit("intersect").alias("op"),
            F.expr(
                f"n * {1 << 40} div greatest(th div {1 << 20}, 1L)"
            ).alias("est_distinct"),
        )
        .crossJoin(exact_i)
    )
    return (
        a_row.unionByName(b_row)
        .unionByName(u_row)
        .unionByName(i_row)
        .select(
            "op",
            F.col("est_distinct").cast("bigint"),
            F.col("exact").cast("bigint").alias("exact_distinct"),
        )
        .orderBy("op")
    )
