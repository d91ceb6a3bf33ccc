"""Scale utilities: bucketed co-located joins, skew salting, plan text.

The two levers SURVEY §7 calls out for the 100 TB posture beyond what
AQE does automatically:

- **bucketing**: persist both join sides bucketed on the join key so
  repeated joins co-locate with NO shuffle exchange (verified by plan
  assertion in tests/test_scale_plans.py);
- **salting**: explode a hot build-side key into S salt replicas and
  scatter the probe side, for skew AQE can't fix (e.g. a single key
  holding >1 partition of data in a non-join aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_stream_spark.operators.layout import spread_range


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan text (what .explain prints), as a string for asserts."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def bucketize_table(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Persist ``df`` as a bucketed+sorted managed table and return it.

    Joins/aggregations between tables bucketed identically on the join
    key skip the shuffle entirely — the physical plan has no Exchange
    on either side. This is how a 100 TB fact table joins a 10 TB fact
    table repeatedly without re-shuffling either.
    """
    spark = df.sparkSession
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )
    return spark.table(name)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join resilient to a pathologically hot key.

    The (small-ish) right side is replicated ``salt`` times with a salt
    column; the left side scatters each row to one replica. The hot
    key's rows spread over ``salt`` tasks instead of one. Output
    columns match a plain ``left.join(right, key, how)``.

    Only ``inner`` and ``left`` joins are supported: under right/full,
    an unmatched right row would surface once per salt replica. The
    salt is derived deterministically from the left row's content
    (xxhash64 of all columns) — a nondeterministic salt (e.g. from
    monotonically_increasing_id) re-salts rows when a lost executor's
    partition is recomputed mid-shuffle, dropping/duplicating output.
    Content-identical left duplicates land on one replica: correct
    (each still joins), merely not spread — acceptable unless the hot
    key's rows are ALSO all byte-identical.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: "
            "unmatched right rows would appear once per salt replica"
        )
    if "__salt" in left.columns or "__salt" in right.columns:
        raise ValueError(
            "salted_join reserves the column name '__salt'; rename it on "
            "the input (a silent overwrite would drop the user column)"
        )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt")
    right_rep = right.select("*", salts)
    left_salted = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast("int"),
    )
    joined = left_salted.join(right_rep, on=[key, "__salt"], how=how)
    return joined.drop("__salt")


def range_offsets(
    df: DataFrame,
    order_cols: list,
    weight: str | None = None,
    groups: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """The distributed prefix sum under a global running total.

    Range-partitions ``df`` on ``groups`` then ``order_cols`` (the
    partitioner a global sort uses, so each partition holds one
    contiguous key range) and returns ``(parted, offsets)``:

    - ``parted``: ``df`` plus ``__pid``, its range partition id;
    - ``offsets``: broadcast rows (``__pid``, *groups, ``__off``), where
      ``__off`` is the total ``weight`` (the row count when None) of
      the preceding partitions of the same group.

    A caller computes its running total within each partition of
    ``parted`` (a window partitioned by ``__pid``, *groups), joins
    ``offsets`` on ``["__pid", *groups]`` and adds ``__off``. The
    ``offsets`` aggregate has one row per partition and group, and no
    step funnels the data into one task.
    """
    # lazy localCheckpoint: the offsets branch and the caller's window
    # branch both consume `parted`; without it, correctness depends on
    # ReuseExchange deduplicating the two range exchanges — if it
    # didn't (conf off, future planner change), each branch could
    # sample DIFFERENT range boundaries and the totals would be wrong.
    # The checkpoint pins one materialization both branches read.
    parted = (
        spread_range(df, *groups, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    total = F.count(F.lit(1)) if weight is None else F.sum(weight)
    sizes = parted.groupBy("__pid", *groups).agg(total.alias("__psum"))
    w_off = W.partitionBy(*groups).orderBy("__pid").rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "__pid",
        *groups,
        F.coalesce(F.sum("__psum").over(w_off), F.lit(0)).alias("__off"),
    )
    return parted, F.broadcast(offsets)


def with_global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed GLOBAL dense row ranking over a total order.

    A bare ``row_number() OVER (ORDER BY ...)`` funnels the entire
    dataset into ONE task (Spark warns 'No Partition Defined for
    Window') — the canonical 100 TB scale-killer for global ranking.
    This computes identical ranks scalably:

    1. range-repartition on the order columns (``range_offsets``);
    2. row_number WITHIN each partition (parallel windows);
    3. add each partition's cumulative row-count offset (a
       #partitions-row aggregate, broadcast back).

    Ranks are identical to the single-task window for any total order
    (ties must be broken by the order columns themselves). Partition
    boundary placement affects balance only, never the rank values.
    """
    parted, offsets = range_offsets(df, order_cols)
    w_in = W.partitionBy("__pid").orderBy(*order_cols)
    return (
        parted.withColumn("__rn", F.row_number().over(w_in))
        .join(offsets, "__pid")
        .withColumn(rank_col, (F.col("__rn") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__rn", "__off")
    )
