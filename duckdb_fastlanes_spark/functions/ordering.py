"""Total-ordering helper for provably-small results.

``df.orderBy(...)`` plans a range-partitioned sort: Spark first runs a
separate SAMPLING JOB over the child to pick range bounds, then shuffles.
For a query whose result is bounded (grouped aggregate over
bounded-cardinality keys, a joined pair of such aggregates, windowed counts
over a time range), that sampling job and exchange are pure overhead —
measured ~40-60 ms per query on small inputs, and at any scale the result
of these queries is orders of magnitude smaller than the input.

``ordered_small`` instead coalesces to one partition and sorts within it:
a single-partition sorted output IS totally ordered, no sampling pass, no
range exchange. The coalesce collapses only the FINAL stage (merging
already-reduced partial aggregates); the map-side heavy lifting upstream of
the shuffle keeps full parallelism.

Use ONLY when the result cardinality is bounded by the query's semantics
(group keys over enums/small domains, top-k, per-window counts) — for
unbounded results keep ``orderBy``, whose parallel range sort is the
scale-correct plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def ordered_small(df: DataFrame, *cols: Column | str) -> DataFrame:
    return df.coalesce(1).sortWithinPartitions(*cols)


def ordered_checkpointed(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Total ordering for UNBOUNDED results whose sort child ends in an
    expensive final stage (post-shuffle aggregate, window, python pipeline).

    ``orderBy`` plans a range-partitioned sort whose bounds come from a
    SAMPLING JOB over the child; shuffle map outputs below are reused, but
    the child's final stage re-executes once per query (r12,
    tools/sort_resample_audit.py — measured 5.4 s → 8.4 s on
    multimodal_features' python pipeline at the 1000× cell). The lazy
    localCheckpoint materializes the result rows exactly once; the sampler
    and the sort both read the checkpointed blocks. Scale-safe: the
    materialization is bounded by the result size, which the sort has to
    hold anyway, and the range sort itself stays fully parallel (unlike
    ``ordered_small``'s single-partition form, which is only for
    provably-bounded results).

    Note: a checkpointed plan has no honest prepared-bench number (the
    handle would reuse the materialization), so bench.py times such
    queries in constructed mode — the LogicalRDD detector already
    enforces that.

    Fault tolerance: ``localCheckpoint`` blocks live only in executor
    storage and drop the lineage, so they are not reliable on a cluster. If
    an executor holding them is lost (a crash, or dynamic allocation
    releasing it), the query fails instead of recomputing the partitions.
    The blocks also pin result-sized storage memory until the query ends.
    In local mode the driver is the only executor, so neither applies."""
    return df.localCheckpoint(eager=False).orderBy(*cols)
