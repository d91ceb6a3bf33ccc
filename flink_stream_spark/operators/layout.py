"""Partition layout: every stage width, and the output-sort exchange.

The engine decides a stage's partition count here and nowhere else.
``spread(df, *cols)`` is ``df.repartition(<width>, *cols)`` (a
round-robin repartition when ``cols`` is empty) and
``spread_range(df, *cols)`` is ``df.repartitionByRange(<width>,
*cols)``. ``<width>`` is the session's ``defaultParallelism``, the core
count ``get_spark`` gives the session. A ``REPARTITION_BY_NUM``
exchange keeps its width at any input size (AQE never coalesces it),
so the number matters, and a width policy change edits ``_width``
only.

Three widths are derived from the data and stay at their sites: the
triangle-count wedge width (``graph._wedge_parallelism``), the tar and
zip readers' one task per shard, and the table writer's bucket
exchange (``tables/managed.py``). ``tests/test_plans.py`` lints the
registry for any other fixed-width exchange.

Output sorts
------------

Every declared query ends in an ORDER BY so the driver/oracle
comparison is deterministic. Spark executes a global sort as a range
exchange, and the range partitioner first runs a SAMPLING job over the
exchange's child to pick the split points — re-executing the entire
child pipeline above the last materialized shuffle. Stage profiling
showed the two heaviest stages of most headline queries were the SAME
final pipeline run twice: once with shuffleWrite=0 (the sample pass)
and once for real. For the codec round-trips the doubled work includes
the whole per-doc Python encode+decode (multimodal_jpeg_progressive_
roundtrip measured 7.65 -> 3.68 s min-of-5 at sf0.1 from this change
alone); for the text/dedup family it includes the md5 shingle passes,
the Arrow suffix-array stage, or the verify joins.

``sorted_result(df, *cols)`` puts a result-sized hash exchange between
the pipeline and the sort, so the sampling job re-reads a few KB of
shuffle files instead of re-running the pipeline. The exchange carries
exactly the query RESULT (already tiny relative to the work that
produced it — aggregates, pair verdicts, per-doc rows); AQE coalesces
it to result-proportional partitions at any scale.

Why a rebalance and not ``repartition(*cols)``: the physical rule
``EnsureRequirements`` removes a user ``REPARTITION_BY_COL`` (or
``REPARTITION_BY_NUM``) exchange whose hash partitioning is
semantically equal to its child's output partitioning. With
``shuffle.partitions == defaultParallelism`` (``get_spark``), every
``repartition(key)`` over a child already hash-partitioned on ``key``
— a ``groupBy(key)``, a join on ``key`` — silently disappears, and the
sampler re-runs the final stage anyway. The ``rebalance`` hint plans a
``REBALANCE_PARTITIONS_BY_COL`` exchange, which that rule never
touches, so the exchange exists whatever the child's partitioning.
``tests/test_plans.py`` asserts the shape for every query that uses
the helper, and lints the registry for inline pre-sort repartitions.

Row-identical to ``df.orderBy(*cols, ascending=...)``: a hash exchange
neither adds, drops, nor rewrites rows, and the global sort fully
determines the output order the oracle hash sees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def _width(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """``df`` hash-partitioned on ``cols`` at the engine's stage width;
    round-robin when no ``cols`` are given."""
    return df.repartition(_width(df), *cols)


def spread_range(df: DataFrame, *cols: str | Column) -> DataFrame:
    """``df`` range-partitioned on ``cols`` (names or orderings such as
    ``F.desc(c)``) at the engine's stage width."""
    return df.repartitionByRange(_width(df), *cols)


def sorted_result(
    df: DataFrame, *cols: str, ascending: bool | list[bool] = True
) -> DataFrame:
    """``df.orderBy(*cols, ascending=ascending)`` over a result-sized
    hash exchange on ``cols`` that the planner cannot elide, so the
    range partitioner's sampling job does not re-run the query's final
    stage. ``cols`` are column names (what the rebalance hint takes);
    the direction goes in ``ascending``, a bool or one per column, as
    with ``orderBy``."""
    return df.hint("rebalance", *cols).orderBy(*cols, ascending=ascending)
