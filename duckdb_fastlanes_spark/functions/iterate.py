"""Fixpoint iteration over DataFrames — the primitive under iterative
algorithms (connected components, label/propagation, PageRank-style loops,
transitive closure) that SQL engines express as recursive CTEs.

A recursive CTE materializes the whole closure (n² for dense graphs); the
Spark-native shape iterates a *bounded-size* state DataFrame instead
(SURVEY.md §7 — beyond-reference; the embedded DuckDB has WITH RECURSIVE,
public knowledge). Two things make the loop survive at scale:

- ``localCheckpoint`` per iteration truncates lineage — without it the plan
  nests one join deeper per iteration and analysis/codegen time grows
  superlinearly until the driver stalls. EAGER here by design (r9 A/B):
  the fixpoint loop joins OLD state against NEW state whose plan contains
  the old plan as a subtree — materializing each round first keeps that
  comparison a join of two independent scans (lazy checkpoints flipped
  dedup_cluster_cc's convergence, 47 -> 24 clusters, caught by the oracle
  gate). Fixed-round loops without old-vs-new self-joins (pagerank, BFS,
  k-core) use LAZY checkpoints instead — measured 15-20% faster because
  the next action computes and caches the round in one job;
- convergence is a single aggregated scalar per iteration (a count), the
  only data that ever reaches the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def iterate_until_fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    changed: Callable[[DataFrame, DataFrame], int],
    max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """Repeat ``state = step(state)`` until ``changed(old, new) == 0`` or
    ``max_iter``. Returns (final state, iterations run). ``step`` must return
    a DataFrame with the same semantics as its input; ``changed`` returns the
    number of differing rows (0 = converged)."""
    state = state.localCheckpoint()
    for i in range(1, max_iter + 1):
        new_state = step(state).localCheckpoint()
        if changed(state, new_state) == 0:
            return new_state, i
        state = new_state
    return state, max_iter


def cc_edge_width(spark, sf_dir: str) -> int:
    """Data-scaled partition width for the CC loop's pre-partitioned edge
    table (r11 verdict item: the core-derived ``defaultParallelism // 8``
    constant capped every round's join at 4-way parallelism regardless of
    data size — the same "constant tuned from cores, not data" anti-pattern
    fixed on graph_link_prediction). The near-dup pair graph is a small
    fraction of the documents corpus, so one partition per ~16 MB of decoded
    ``documents`` bytes (floor = the measured-best tiny-input width, cap
    4096) keeps partitions meaningful at every scale: sf0.1 stays at the
    4-partition width the tiny-input sweep chose, the sf10 cell gets ~15,
    and a 100 TB corpus hits the cap instead of 4."""
    from duckdb_fastlanes_spark.sizing import width

    floor = max(spark.sparkContext.defaultParallelism // 8, 4)
    return width(sf_dir, "documents", 16, floor)


def min_label_propagation(
    edges: DataFrame, max_iter: int = 50, width: int | None = None
) -> tuple[DataFrame, int]:
    """Connected components by min-label propagation over an undirected edge
    list (columns ``a``, ``b``): every node converges to the minimum node id
    reachable from it. O(component diameter) iterations, each one join + one
    aggregate. Returns ((id, label) DataFrame, iterations)."""
    from pyspark.sql import functions as F

    # Both directions via ONE explode, never a self-union of the edge plan:
    # unioning a plan with its own column-flipped projection is exactly the
    # shape Catalyst's relation-deduplication can mis-rewrite when the plan
    # is complex (CTE + DISTINCT + temp view) and nothing is materialized
    # yet — observed as the flipped leg silently collapsing (both.count()
    # returned |edges|, not 2|edges|) on the FIRST execution in a session,
    # while later executions over warmed caches were correct. The exploded
    # struct pair keeps one scan and is immune by construction (r9; caught
    # by the dedup_cluster_cc oracle at 24 vs 47 components).
    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    # r11 (guide §2.4): pre-partition the edge table by the probe key ONCE —
    # localCheckpoint preserves the physical partitioning, so every round's
    # both⋈state join reuses it and only the (node-sized) state side is
    # exchanged, instead of re-shuffling the edge table each round.
    # r12: width comes from the caller's DATA gauge (cc_edge_width) instead
    # of a core-derived constant; the old constant stays only as the
    # gauge-less fallback for direct library callers.
    if width is None:
        width = max(edges.sparkSession.sparkContext.defaultParallelism // 8, 4)
    both = both.repartition(width, "b").localCheckpoint()

    # r11: round 1 from state₀ (label=id) is a pure function of the edge
    # list — label₁(x) = min(x, min over neighbors of x) — so the loop
    # starts from the round-1 fixpoint step computed in ONE aggregate,
    # skipping the nodes.distinct() exchange AND the first join round
    # entirely (every node appears as `a` in `both` by construction).
    state = (
        both.groupBy("a")
        .agg(F.min("b").alias("nmin"))
        .select(
            F.col("a").alias("id"),
            F.least(F.col("a"), F.col("nmin")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )

    # r11 (guide §2.4): the convergence test used to be a SECOND shuffle
    # join per round (old ⋈ new + count). The step's own left join already
    # sees both the old label and the neighborhood minimum, so the changed
    # flag rides OUT of the step for free and convergence becomes a
    # filter-count over the round's just-materialized checkpoint blocks —
    # one shuffle join per round instead of two, same round count, and the
    # old-vs-new self-join hazard class (the r9 flip-union lesson) is gone
    # because old and new state are never joined at all. Checkpoints are
    # LAZY: with no old-vs-new join left in the loop (the r9 eager-by-design
    # rationale), the round's count() action materializes the checkpoint
    # blocks in the SAME job — one action per round instead of two.
    for i in range(1, max_iter + 1):
        neighbor_min = (
            both.join(state, both.b == state.id)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        new = (
            state.join(neighbor_min, state.id == F.col("a"), "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")).alias(
                    "chg"
                ),
            )
            .localCheckpoint(eager=False)
        )
        state = new.select("id", "label")
        if new.filter(F.col("chg")).count() == 0:
            return state, i
    return state, max_iter
