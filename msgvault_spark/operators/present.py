"""Presentation sort for small result sets.

A trailing ``df.orderBy(...)`` with no LIMIT compiles to a SortExec over a
range-partitioned exchange. Range partitioning needs split bounds, and
Spark computes them with an EAGER sampling job that re-executes the sort's
child subtree — so every freshly built plan pays the query's whole
upstream work twice (once to sample, once to answer). Replaying an
already-executed plan hides that, but first-run latency and any at-scale
consumer of an unlimited sort both eat it.

For a result-presentation sort the input is already small — an aggregate
over an enum-ish group domain, a drill-down page, a report — so the right
physical plan is ONE exchange into a single partition and an in-partition
sort: no sampling job, no double compute, total order preserved. That is
exactly what a coordinator/gather node does in a classic MPP engine.

``present_sorted`` is that plan. It is deliberately NOT for large outputs
(a single task sorts the whole result); anything that can return fact-
scale row counts should keep ``orderBy`` (range sort scales out) or a
top-k ``orderBy(...).limit(k)`` (TakeOrdered — also sampling-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def present_sorted(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Totally-ordered small result: single-partition in-partition sort.

    Equivalent output to ``df.orderBy(*cols)`` (same rows, same total
    order) without the range-exchange sampling job that re-executes the
    upstream plan. Use only where the result set is presentation-sized
    (bounded by a group domain or page size), independent of input scale.
    """
    return df.repartition(1).sortWithinPartitions(*cols)
