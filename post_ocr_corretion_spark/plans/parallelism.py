"""Adaptive parallelism: the one place that decides whether a stage gets
a round-robin exchange in front of it.

A single-file scan arrives as one input split, so a CPU-dense stage over
it (tokenize, n-gram windows, pair metrics, the Viterbi UDF) runs on one
core while the rest idle. ``spread`` adds a repartition in that case and
only in that case:

- The size comes from the optimizer's estimate, and only when every leaf
  of the optimized plan is a file-source relation. Any other leaf (a
  ``createDataFrame``/``localCheckpoint``/RDD scan) and the
  ``spark.sql.defaultSizeInBytes`` sentinel that Spark reports for it
  mean "size unknown": the frame is left alone rather than shuffled in
  full on a guess.
- The target is one task per ``bytes_per_task`` of estimated input,
  capped at 2×defaultParallelism; the exchange is added only when the
  frame has fewer splits than that. A real multi-split corpus already
  has them and is returned untouched, so there is no full-text shuffle
  at scale.
- ``repartition(n)`` is a REPARTITION_BY_NUM exchange, which AQE never
  coalesces: a CPU-dense stage over few bytes keeps its tasks, where
  AQE's byte-based coalescing would fold it back into one.
- Catalyst can push a row-local filter below the exchange, back into the
  scan tasks. A caller whose filter is the expensive part stages it
  through a generator above the spread (see ``bloom_join.bloom_prefilter``).

The flagship (``pipeline.run_pipeline_from_docs``) makes the same decision
through ``spread_partitions``, but range-partitions its docs on the doc
hash and materializes them on a background thread.

The row multiset never changes; only the partitioning does. A caller
must therefore consume the rows in an order-independent way: exact
aggregates (integer counts, DECIMAL sums, extrema) or per-row work, never
a floating-point sum whose rounding follows the partition order.
"""
from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# Bytes of estimated input per task, by how much CPU a stage spends per
# input byte. Tokenize + distinct: a 5.8 MB single-file scan tokenizes
# 1.7x faster at ~12 tasks than serially, while a 0.6 MB input is fastest
# with no extra exchange at all.
TOKEN_TASK_BYTES = 512 * 1024
# n-gram window construction is ~10x CPU-denser per input byte than a
# plain tokenize.
GRAM_TASK_BYTES = 64 * 1024
# Per-row Python or O(n^2) work on few bytes: pair metrics, the
# nested-loop similarity join, Viterbi segmentation. Small enough that a
# sub-MB table still fills 2x32 cores.
CPU_TASK_BYTES = 8 * 1024


def _is_file_scan(leaf) -> bool:
    return (
        leaf.getClass().getSimpleName() == "LogicalRelation"
        and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
    )


def size_estimate(df: DataFrame) -> int | None:
    """The optimizer's ``sizeInBytes`` for ``df``, or None when it is not
    a real statistic: some leaf is not a file-source relation, the value
    is the ``defaultSizeInBytes`` sentinel, or the plan cannot be read."""
    try:
        qe = df._jdf.queryExecution()
        leaves = qe.optimizedPlan().collectLeaves()
        if not all(_is_file_scan(leaves.apply(i)) for i in range(leaves.size())):
            return None
        size = int(qe.optimizedPlan().stats().sizeInBytes())
        sentinel = int(qe.sparkSession().sessionState().conf().defaultSizeInBytes())
    except (AttributeError, Py4JError):  # no JVM plan (Connect), or an API this Spark lacks
        return None
    return size if 0 < size != sentinel else None


def spread_partitions(df: DataFrame, bytes_per_task: int, sized_on: DataFrame | None = None) -> int | None:
    """The partition count ``spread`` repartitions ``df`` to, or None when
    the input is not known to be under-split for its size (module
    docstring). ``sized_on``: the frame to read the estimate and the split
    count from, e.g. the scan feeding a join, whose own estimate is a
    cardinality product."""
    basis = df if sized_on is None else sized_on
    est = size_estimate(basis)
    if est is None:
        return None
    target = min(2 * df.sparkSession.sparkContext.defaultParallelism, est // bytes_per_task)
    if target < 2 or basis.rdd.getNumPartitions() >= target:
        return None
    return target


def spread(df: DataFrame, bytes_per_task: int, sized_on: DataFrame | None = None) -> DataFrame:
    """``df.repartition(n)`` for ``n = spread_partitions(...)``, else ``df``
    itself."""
    n = spread_partitions(df, bytes_per_task, sized_on)
    return df if n is None else df.repartition(n)
