"""Graph analytics over the order graph — beyond-reference extension.

The reference engine has no graph operators (SURVEY.md §2; its embedded
DuckDB can only express them as recursive/unrolled CTEs). The Spark-native
shape is the GraphX/GraphFrames pattern on plain DataFrames: an edge list,
a bounded per-node state frame, and a fixed number of join+aggregate rounds
(functions/iterate.py holds the open-ended variant used by connected
components).

PageRank here runs on the undirected bipartite customer–supplier graph
implied by orders⋈lineitem: an edge (c, s) means customer c bought from
supplier s. Node ids are prefixed ('c'/'s') to keep the two key spaces
disjoint.

Scale shape: the edge list is the only large dataset and it is REUSED by
every iteration from one localCheckpoint (lineage stays flat); each round is
edges ⋈ ranks (shuffle on node id — co-partitioned after round 1) followed
by a groupBy(dst) sum. State is one row per node. This is exactly the plan
GraphFrames/Pregel produce, with #iterations fixed so the DuckDB oracle can
unroll the same three steps as CTEs and hash-match the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark import sizing
from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register

DAMPING = 0.85
N_ITER = 3
RANK_SCALE = 8  # rank magnitudes are ~1e-4; 8 decimals keeps ~4 sig figs

#: MATERIALIZED throughout: DuckDB inlines CTEs, and the unrolled-iteration
#: oracles below reference edges once per round leg — at the 1000x cell the
#: 60 M-row distinct join would otherwise re-execute up to 14x (the k-core
#: oracle precedent, 22.5 s -> 0.96 s; found again on graph_bfs_distance,
#: whose duck cell burned >57 CPU-minutes before this pin)
_ORACLE_EDGES = """
    pairs AS MATERIALIZED (
        SELECT DISTINCT 'c' || o_custkey AS c_node, 's' || l_suppkey AS s_node
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges(src, dst) AS MATERIALIZED (
        SELECT c_node, s_node FROM pairs
        UNION ALL
        SELECT s_node, c_node FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT count(*) AS n_nodes FROM nodes)
"""


def _oracle_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS MATERIALIZED (
        SELECT e.dst AS node,
               (1 - {DAMPING}) / (SELECT n_nodes FROM n)
               + {DAMPING} * sum(r.rank / deg.d) AS rank
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    )"""


@register(
    "graph_pagerank",
    oracle=f"""
    WITH {_ORACLE_EDGES},
    r0 AS (SELECT node, 1.0 / (SELECT n_nodes FROM n) AS rank FROM nodes),
    {_oracle_iter("r0", "r1")},
    {_oracle_iter("r1", "r2")},
    {_oracle_iter("r2", "r3")}
    SELECT node, round(rank, {RANK_SCALE}) AS rank
    FROM r3
    ORDER BY node
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({N_ITER} fixed iterations, d={DAMPING}) on the undirected
    customer–supplier purchase graph. Every node has degree ≥ 1 by
    construction (edges come in both directions), so there is no dangling-
    node mass to redistribute and the unrolled-CTE oracle is exact."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .selectExpr("'c' || o_custkey AS c_node", "'s' || l_suppkey AS s_node")
        .distinct()
    )
    edges = (
        # both directions via one explode — see functions/iterate.py: a
        # self-union of a plan with its own column-flipped projection can
        # lose a leg on first execution (r9 fix)
        pairs.select(
            F.explode(
                F.expr(
                    "array(struct(c_node AS src, s_node AS dst),"
                    " struct(s_node AS src, c_node AS dst))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=False)  # reused by deg + every iteration: flat lineage
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # degree-annotated edges materialize ONCE and feed every round; the
    # per-round rank frame is |nodes|-sized and 3 rounds deep at most, so
    # its lineage stays shallow without per-round checkpoints (open-ended
    # iteration — functions/iterate.py — checkpoints per round instead).
    # r11 audit (plans/r11/graph_pagerank_*): the checkpoint already
    # preserves the edges⋈deg join's src partitioning AND sort order, so
    # every unrolled round's SortMergeJoin consumes the edge side with no
    # exchange and no sort — only the node-sized rank frame moves per
    # round. Left as-is; the per-round (dst) exchange is the algorithm.
    with_deg = edges.join(deg, "src").localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()  # one scalar to the driver; state stays distributed
    if n_nodes == 0:
        # empty graph: a well-typed empty result instead of a driver-side
        # division by zero (empty-catalog robustness gate)
        return nodes.select(
            "node", F.lit(0.0).alias("rank")
        ).limit(0)

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(N_ITER):
        ranks = (
            with_deg.join(ranks, with_deg.src == ranks.node)
            .groupBy("dst")
            .agg(
                (
                    F.lit((1 - DAMPING) / n_nodes)
                    + F.lit(DAMPING) * F.sum(F.col("rank") / F.col("d"))
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
        )
    return ranks.select("node", F.round("rank", RANK_SCALE).alias("rank")).orderBy(
        "node"
    )


#: deliberately NOT MATERIALIZED, unlike _ORACLE_EDGES (fair-denominator
#: check, measured at the 1000× cell): inlined, DuckDB re-runs the
#: self-join+distinct once per reference but keeps parquet stats, so the
#: triangle census streams the 4.1e9-row wedge side against an edge-list
#: hash build (105 s). Pinning MATERIALIZED strips those stats and the
#: optimizer flips the census build side onto the WEDGE stream — a ~100 GB
#: hash table that ran >20 min single-threaded before being killed. The
#: denominator must be DuckDB's best plan; here that is the inline form.
_TRI_ORACLE_PAIRS = """
    pairs AS (
        SELECT DISTINCT a.l_partkey AS s1, b.l_partkey AS s2
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
    )
"""

def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part co-purchase pairs (s1 < s2) — the shared edge list of
    the graph family (triangle/degree/k-core/link-prediction; the DuckDB
    oracle keeps its self-join form, `_TRI_ORACLE_PAIRS`).

    r11 (guide §2.4, the orders_market_basket pattern, measured ~2× there):
    per-order sorted adjacency arrays replace the lineitem SMJ self-join —
    ONE exchange of lineitem to l_orderkey with a collect_set that dedups
    in the same exchange, row-local ordered-pair generation (posexplode +
    suffix slice emits exactly the s1 < s2 combinations), then the distinct
    exchange the self-join form also paid. Basket sizes are bounded (order
    line counts), so pair fan-out is Σ basket² — the blocked-pairwise
    discipline; no join, no second lineitem pass."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    return (
        baskets.where(F.size("parts") > 1)
        .select(F.posexplode("parts").alias("pos", "s1"), "parts")
        .select(
            "s1",
            F.slice(
                F.col("parts"),
                F.col("pos") + 2,
                F.greatest(F.size("parts") - F.col("pos") - 1, F.lit(0)),
            ).alias("cand"),
        )
        .where(F.size("cand") > 0)
        .select("s1", F.explode("cand").alias("s2"))
        .distinct()
    )


#: measured-size broadcast tiers for the triangle census (the BFS_BCAST_ROWS
#: pattern: gate on a COUNTED payload, never a static hint or the input
#: gauge — r10 ADVICE item 1). One adjacency copy per EXECUTOR (not per
#: core): 150 M packed-long entries ≈ 1.2 GB plus array headers — the classic
#: map-join tier. Beyond it the census falls back to the suffix-pruned
#: array-shuffle join below.
TRI_ADJ_BCAST_ENTRIES = 150_000_000
#: node→packed-degree-key map broadcast bound: 4 M rows ≈ 64 MB, the same
#: ceiling the BFS frontier uses.
TRI_NODE_BCAST_ROWS = 4_000_000


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_TRI_ORACLE_PAIRS},
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT s1 AS node FROM pairs UNION ALL SELECT s2 AS node FROM pairs)
        GROUP BY node
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM pairs e1
        JOIN pairs e2 ON e2.s1 = e1.s2
        JOIN pairs e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    )
    SELECT (SELECT count(*) FROM pairs) AS n_edges,
           -- coalesce: sum over an empty degree table is NULL, but the
           -- engine side's census reads 0 (empty-catalog gate; regression
           -- inherited from the r11-prep triangle rewrite)
           (SELECT CAST(coalesce(sum(d * (d - 1)), 0) // 2 AS BIGINT)
            FROM deg) AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle + wedge census of the part co-purchase graph (parts that
    appear in the same order are adjacent), via the compact-forward algorithm
    with DEGREE ordering: every edge is re-oriented from its lower-(degree,id)
    endpoint to its higher one, out-neighborhoods are folded into per-vertex
    arrays, and each triangle {a≺b≺c} is counted exactly once at its base
    edge (a,b) as |N⁺(a) ∩ N⁺(b)|.

    Scale shape (r11 rewrite): the Σ out-deg² wedge-candidate set is NEVER
    materialized or shuffled — candidates are sliced row-locally from the
    adjacency arrays and intersected inside whole-stage codegen. What made
    the r10 form 2.6× DuckDB at the 1000× cell was shuffling those candidate
    arrays (~4.1e9 packed longs ≈ 33 GB of exchange) to meet the closing
    edge's adjacency. The census join is now tiered on MEASURED payloads
    (the BFS_BCAST_ROWS lesson — counted sizes, not static hints):

    - |E| ≤ TRI_ADJ_BCAST_ENTRIES: broadcast the checkpointed adjacency
      (one ~|E|·8 B copy per executor) so the whole census — posexplode,
      suffix slice, hash probe, intersect, partial sum — is ONE stage with
      zero wide exchange. Measured at the 1000× cell: census 125 s → 24 s,
      whole query 277 s → ~77 s vs DuckDB's MATERIALIZED-pinned 47 s.
    - above the tier (a 100 TB graph): the suffix-pruned candidate arrays
      shuffle to a payload-widened exchange and meet the adjacency in a
      shuffled hash join — linear, spill-safe, just not exchange-free.

    The same measured gate drives the orientation: the node→(degree,id)
    packed-key map broadcasts when |V| ≤ TRI_NODE_BCAST_ROWS (map-side
    orientation, no edge shuffle), else both legs shuffle hash. Degree
    orientation bounds every out-neighborhood at O(√m) (arboricity), so both
    the widest array and the worst per-row intersect survive power-law hubs.
    The triangle total is orientation-invariant, so the id-oriented DuckDB
    oracle is unchanged. The distinct edge list localCheckpoints once and is
    reused by the census, the degree pass, and the orientation; the
    adjacency localCheckpoints once and is reused by the probe and the
    broadcast build.
    """
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint()
    # one O(1)-result count job on the checkpointed edge list gates the
    # census join strategy below (job-at-build, the RFM/BFS precedent); the
    # value also rides into the result as a literal so the count is not paid
    # twice.
    m_edges = pairs.count()
    n_edges = spark.range(1).select(F.lit(m_edges).cast("bigint").alias("n_edges"))
    deg = (
        pairs.select(F.col("s1").alias("node"))
        .unionAll(pairs.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # PACKED degree-key orientation (r6): each vertex is relabeled as the
    # single long k = d·2³² + id, whose numeric order IS the (degree, id)
    # lexicographic order — so orientation (u ≺ v), the suffix prune below,
    # and the arrays all work on one comparable long instead of carrying
    # (d, id) pairs. Valid while d < 2³¹ and id < 2³² (any real corpus;
    # degree is bounded by |V|). Triangle totals are label-invariant, so
    # the id-oriented DuckDB oracle is unchanged.
    _PACK = 1 << 32
    nodek = deg.select(
        F.col("node"), (F.col("d") * F.lit(_PACK) + F.col("node")).alias("k")
    ).localCheckpoint()
    n_nodes = nodek.count()
    # the wedge census Σ d(d-1)/2 reads the degree back out of the packed
    # key (k DIV 2³² = d exactly, since node < 2³²) so the executed result
    # aggregates the 2 M-row checkpoint instead of re-shuffling the 2|E|
    # endpoint stream a second time (measured ~10 s at the 1000× cell)
    wedges = nodek.agg(
        F.expr(
            "CAST(coalesce(sum((k DIV 4294967296) * (k DIV 4294967296 - 1)), 0)"
            " DIV 2 AS BIGINT)"
        ).alias("n_wedges")
    )

    def _nk(alias_node: str, alias_k: str) -> DataFrame:
        nk = nodek.select(F.col("node").alias(alias_node), F.col("k").alias(alias_k))
        # measured-|V| tier: a 4 M-row key map is a ~64 MB broadcast and the
        # orientation join runs map-side over the checkpointed edge list
        # with NO edge shuffle; beyond it both legs shuffle hash (at 100 TB
        # the node table is itself fact-sized — an unconditional broadcast
        # would blow executor memory, the k-core broadcast-hint lesson)
        return (
            F.broadcast(nk) if n_nodes <= TRI_NODE_BCAST_ROWS else nk.hint("shuffle_hash")
        )

    oriented = (
        pairs.join(_nk("s1", "ka"), "s1")
        .join(_nk("s2", "kb"), "s2")
        .select(
            F.least("ka", "kb").alias("u"),
            F.greatest("ka", "kb").alias("v"),
        )
    )
    # adjacency-array intersection instead of a wedge self-join: each
    # triangle {a≺b≺c} is found exactly once at its base edge (a,b) as
    # c ∈ N⁺(a) ∩ N⁺(b). Checkpointed because BOTH census tiers read it
    # twice (probe + broadcast/build side) — without it the groupBy re-runs.
    adj = (
        oriented.groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
        .localCheckpoint()
    )
    # the arrays are sorted and edges are distinct, so the w ≻ v suffix is
    # exactly the elements AFTER v's own position — one slice per exploded
    # edge (posexplode gives the position for free) instead of an
    # interpreted per-element higher-order filter (HOF lambdas don't
    # codegen; the filter scanned Σ dout² elements row-by-row)
    probe = (
        adj.select(F.posexplode("nbrs").alias("pos", "v"), F.col("nbrs"))
        .select(
            F.col("v"),
            F.slice(
                F.col("nbrs"),
                F.col("pos") + 2,
                F.greatest(F.size("nbrs") - F.col("pos") - 1, F.lit(0)),
            ).alias("cand"),
        )
        .where(F.size("cand") > 0)
    )
    adj_v = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nbrs_v"))
    if m_edges <= TRI_ADJ_BCAST_ENTRIES:
        # map-join tier: the adjacency fits one per-executor copy, so the
        # candidate arrays never cross an exchange — the census is a single
        # stage (measured 125 s → 24 s at the 1000× cell)
        closing = probe.join(F.broadcast(adj_v), "v")
    else:
        # beyond the tier the candidate-array payload is ~avg-degree× the
        # row count; widen the one unavoidable exchange so partitions hold
        # ~100-300 MB instead of spilling
        probe = probe.repartition(6 * spark.sparkContext.defaultParallelism, "v")
        closing = probe.join(adj_v.hint("shuffle_hash"), "v")
    tri = (
        closing.select(
            F.size(F.array_intersect(F.col("cand"), F.col("nbrs_v"))).alias("c")
        )
        # coalesce: sum over an empty probe is NULL, but the oracle's
        # count(*)-shaped census reads 0 on an empty graph (empty-catalog gate)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_triangles"))
    )
    return n_edges.crossJoin(wedges).crossJoin(tri)


AA_SCALE = 6  # Adamic-Adar sums ~10 terms of 1/ln(deg) — 6 dp is order-stable

#: degree cap for wedge generation in graph_link_prediction. Wedge work is
#: Σ_v C(deg(v), 2) — quadratic in hub degree; a deg-10⁵ hub at 100 TB is a
#: 5×10⁹-wedge bucket on its own. Edges into a neighbor v with deg(v) > CAP
#: are kept with probability q = CAP/deg(v) (DETERMINISTIC md5-hash uniform,
#: so both engines keep the identical subset) and every surviving wedge is
#: count-corrected by 1/q² (a wedge survives iff both its edges do —
#: independent hash draws — so E[Σ 1/q²] is exactly the true wedge count).
#: Below the cap q = 1: exact. Expected generation cost per neighbor becomes
#: min(deg, CAP)² — LINEAR in corpus size with bounded constants; estimator
#: std-err per hub pair is ~1/q = deg/CAP, fine for a top-k screen.
LP_DEG_CAP = 48

#: deterministic edge-keep uniform: (first 8 md5 hex digits of "src:dst"
#: + 0.5) / 2^32 ∈ (0,1) — the sampling.py hash-uniform pattern, identical
#: on both engines
_LP_U_SQL = (
    "(CAST(concat('0x', substr(md5(CAST(e.src AS VARCHAR) || ':' ||"
    " CAST(e.dst AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0"
)


def _lp_candidate_agg(batches):
    """Complete per-partition candidate aggregate for graph_link_prediction
    (r12, guide §4.2): the stream is already hash-partitioned on the packed
    pair key, so each pk lives in exactly one task and ONE pyarrow group_by
    per task replaces the JVM's partial+final HashAggregate pair (which
    built two ~20.7 M-group maps back-to-back — 77% of the query's executor
    CPU). int64 sums are bit-identical to the JVM aggregate."""
    import pyarrow as pa

    got = list(batches)
    if not got:
        return
    tbl = pa.Table.from_batches(got)
    out = tbl.group_by("pk").aggregate([("w_u", "sum"), ("aa_term", "sum")])
    # select by name: the key's position in group_by output varies across
    # pyarrow releases, and all three columns are int64
    out = out.select(["pk", "w_u_sum", "aa_term_sum"])
    yield from out.rename_columns(["pk", "cn_u", "aa_u"]).to_batches()


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH {_TRI_ORACLE_PAIRS},
    edges(src, dst) AS (
        SELECT s1, s2 FROM pairs UNION ALL SELECT s2, s1 FROM pairs
    ),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
    kept AS (
        -- degree-capped edge sampling: keep prob q = min(1, CAP/deg(dst)),
        -- decided by a deterministic md5 uniform shared by both engines
        SELECT e.src, e.dst, dv.d, least(1.0, {LP_DEG_CAP}.0 / dv.d) AS q
        FROM edges e JOIN deg dv ON dv.node = e.dst
        WHERE {_LP_U_SQL} < least(1.0, {LP_DEG_CAP}.0 / dv.d)
    ),
    cand AS (
        -- per-wedge terms quantized to integer nano-units so the cross-pair
        -- sum is an exact BIGINT on both engines; 1/q² is the inverse
        -- sampling weight (exactly 1 below the cap)
        SELECT a.src AS s1, b.src AS s2,
               CAST(sum(CAST(round(1000000000.0 / (a.q * a.q)) AS BIGINT))
                    AS BIGINT) AS cn_u,
               CAST(sum(CAST(round(1000000000.0 / (ln(a.d) * a.q * a.q))
                             AS BIGINT)) AS BIGINT) AS aa_u
        FROM kept a
        JOIN kept b ON b.dst = a.dst AND a.src < b.src
        GROUP BY a.src, b.src
    )
    SELECT c.s1, c.s2,
           round(c.cn_u / 1000000000.0, {AA_SCALE}) AS common_est,
           round(c.aa_u / 1000000000.0, {AA_SCALE}) AS adamic_adar,
           round((c.cn_u / 1000000000.0) /
                 (d1.d + d2.d - c.cn_u / 1000000000.0), {AA_SCALE}) AS jaccard
    FROM cand c
    JOIN deg d1 ON d1.node = c.s1
    JOIN deg d2 ON d2.node = c.s2
    LEFT JOIN pairs p ON p.s1 = c.s1 AND p.s2 = c.s2
    WHERE p.s1 IS NULL
    ORDER BY c.cn_u DESC, c.s1, c.s2
    LIMIT 25
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: for every NON-adjacent
    pair sharing ≥1 (sampled) neighbor, score by estimated common-neighbor
    count, Adamic-Adar (Σ 1/ln deg(v) over shared neighbors v) and Jaccard
    of neighborhoods; top 25 candidates. The "what should we bundle next"
    query — beyond-reference (no graph ops in the engine).

    Scale shape — DEGREE-CAPPED wedge generation (see LP_DEG_CAP): edges
    into a neighbor with deg > CAP are hash-sampled at q = CAP/deg and each
    surviving wedge is weighted 1/q² (unbiased Horvitz-Thompson estimate of
    the common-neighbor count; exact when deg ≤ CAP). This bounds per-
    neighbor generation cost at ~CAP² so total wedge work is linear in edge
    count — without the cap one deg-10⁵ hub alone contributes 5×10⁹ wedges.
    The keep decision is a row-local md5 uniform on (src, dst), so both
    engines sample the identical edge subset and the BIGINT nano-unit sums
    hash-match exactly. Measured at sf0.1 (1.2 M edges, quasi-regular
    deg≈120): 148 M exact wedges → ~21 M sampled, 28.5 s → under 10 s, same
    on the DuckDB side.

    Wedges are re-keyed onto the pair BEFORE the aggregate (measured A/B at
    sf0.1: shuffling the raw wedge stream then aggregating once runs 14.4 s
    vs 45 s for partial-agg-inside-the-generation-stage — fusing a 2 M-key
    hash aggregate into the codegen-heavy generation stage costs ~3× more
    than the sequential shuffle write of small fixed-width rows). Per-wedge
    terms are quantized to integer nano-units so pair sums are exact BIGINTs
    (order-independent across engines); top-k is a TakeOrderedAndProject on
    the exact cn_u with (s1, s2) tiebreak.

    r11 optimization (guide §2.3/§2.4, plans/r11/graph_link_prediction_*):
    the r10 plan computed the node-degree aggregate FOUR times (one per
    broadcast build: the sampling join plus the d1/d2 scoring joins) and ran
    the md5 edge-sampling pass TWICE (once per self-join leg) — deg now
    localCheckpoints lazily and is reused by all three joins, and wedges are
    generated from per-dst adjacency arrays (the triangle-count
    posexplode+slice pattern: ~CAP-bounded arrays, sorted so the suffix
    slice emits exactly the s1 < s2 pairs) instead of a kept⋈kept SMJ, so
    the sampled edge set is computed and shuffled ONCE. The wedge exchange
    also narrows: it ships (s1, s2, d) and derives both nano-unit weight
    terms from d after the shuffle, instead of shipping two precomputed
    8-byte weight columns per wedge (~40% fewer shuffle bytes on the only
    large exchange in the query). 14 exchanges → 7, one md5 pass, measured
    8.8 s → see OPTIMIZATION_r11.md."""
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint()
    # reused: adjacency, degree, anti-join
    edges = pairs.selectExpr("s1 AS src", "s2 AS dst").unionAll(
        pairs.selectExpr("s2 AS src", "s1 AS dst")
    )
    # node-sized; lazily checkpointed because THREE joins consume it (the
    # sampling join and the d1/d2 scoring joins) — without the checkpoint
    # the optimizer re-derives the full union+aggregate once per broadcast
    # build (4 redundant corpus passes in the r10 plan)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    # degree-capped deterministic edge sampling (q = min(1, CAP/deg(dst)));
    # deg is NODE-sized: below the input gauge it broadcasts (node count is
    # bounded by the tiny input), above it the gauge picks a shuffled hash
    # join — at 100 TB the node table is itself fact-sized and a broadcast
    # would blow the driver/exchange memory (r6 verdict hygiene item)
    stats = sizing.catalog_stats(sf_dir)
    _big = stats.large

    def _dim(df):
        return df.hint("shuffle_hash") if _big else F.broadcast(df)
    u01 = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("src").cast("string"),
                        F.lit(":"),
                        F.col("dst").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    kept = (
        edges.join(
            _dim(deg.selectExpr("src AS node", "d")),
            F.col("dst") == F.col("node"),
        )
        .withColumn("q", F.least(F.lit(1.0), F.lit(float(LP_DEG_CAP)) / F.col("d")))
        .filter(u01 < F.col("q"))
        .select("src", "dst", "d")
    )
    # wedge GENERATION runs at full core width (the generation stage
    # inherits the adjacency shuffle's width — the byte-sized small-input
    # default of 4 partitions ran the uncapped form 143 s; see
    # tune_for_input docstring). The width additionally scales with the
    # INPUT (guide §2.2: size partitions from data, not cores): wedge count
    # grows linearly with the corpus, and at the 1000× cell the core-count
    # exchange put a ~65 M-group hash map in every aggregate task — the
    # aggregate starved the anti-join's hash build ("Can't acquire ...
    # bytes to build hash relation"). One partition per ~18 MB of decoded
    # LINEITEM keeps per-task maps spill-safe; the local bench (13 MB
    # lineitem) stays at core width, so the driver's measurement is
    # unchanged. r12 (ADVICE item): the gauge is lineitem's OWN decoded
    # bytes, not the whole-catalog total — wedge volume is driven by
    # lineitem alone, and a catalog dominated by other tables (wide
    # documents/events text) must not over-partition this query into many
    # tiny aggregate tasks. The 18 MB divisor reproduces the r11-calibrated
    # width at the sf10 cell (330 → 322 partitions, ~6 M groups/task).
    width = sizing.width(sf_dir, "lineitem", 18, spark.sparkContext.defaultParallelism)
    # per-dst adjacency arrays (≤ ~CAP entries by the sampling bound): the
    # sorted array's post-position suffix is exactly the s1 < s2 partner
    # set, so pair generation is row-local codegen over ONE shuffle of the
    # sampled edges — the r10 kept⋈kept self-join shuffled the sampled set
    # twice and re-ran the md5 pass per leg. d rides along (functionally
    # dependent on dst) via max(); both weight terms are derived from it
    # AFTER the pair exchange so the only large shuffle carries 3 columns.
    adj = (
        kept.repartition(width, "dst")
        .groupBy("dst")
        .agg(
            F.sort_array(F.collect_list("src")).alias("srcs"),
            F.max("d").alias("d"),
        )
        .where(F.size("srcs") > 1)
    )
    wedges = (
        adj.select(F.posexplode("srcs").alias("pos", "s1"), "srcs", "d")
        .select(
            "s1",
            F.slice(
                F.col("srcs"),
                F.col("pos") + 2,
                F.greatest(F.size("srcs") - F.col("pos") - 1, F.lit(0)),
            ).alias("cand"),
            "d",
        )
        .where(F.size("cand") > 0)
        .select("s1", F.explode("cand").alias("s2"), "d")
    )
    q = F.least(F.lit(1.0), F.lit(float(LP_DEG_CAP)) / F.col("d"))
    w_u = F.round(F.lit(1000000000.0) / (q * q)).cast("bigint").alias("w_u")
    aa_term = (
        F.round(F.lit(1000000000.0) / (F.log(F.col("d").cast("double")) * q * q))
        .cast("bigint")
        .alias("aa_term")
    )
    # r11 session 2 (guide §2.3): the pair key PACKS into one BIGINT
    # (s1·2³² + s2) through the exchange, the aggregate and the anti-join:
    # rows shrink 40 → 32 B, hash/compare work one long instead of two
    # ints. pk's numeric order IS (s1, s2) lexicographic order (both
    # non-negative), so the top-25 tiebreak is unchanged. Gated on the key
    # domain from parquet footer statistics (driver-only, no job): beyond
    # 2³¹ the unpacked shape stands — results identical either way.
    #
    # r12 (VERDICT item 1, guide §2.3/§4.2, OPTIMIZATION_r12.md): the
    # packed candidate aggregate planned TWO back-to-back HashAggregates
    # (partial+final in one stage — the partial shrank the stream only ~6%,
    # measured 77% of executor CPU building two ~20.7 M-group maps). A/B'd
    # fixes: single SortAggregate (replaceHashWithSortAgg) LOST — sorting
    # the stream costs more than the saved build; the winner is (a) the
    # pair ANTI-JOIN moved BELOW the pk exchange and ABOVE the aggregate —
    # result-identical (dropping wedges whose pk is an existing edge
    # removes exactly the groups the post-agg anti-join removed, no other
    # group's sum changes) and it frees the aggregate output to feed
    # TakeOrdered directly with no post-agg join/exchange at any scale —
    # plus (b) the aggregate itself as ONE complete pyarrow group_by inside
    # mapInArrow (zero JVM hash builds; int64 sums, bit-identical).
    # Measured adjacent at the 300× cell: pack 116.3 s → 82.0 s (−30%),
    # identical top-25; sf0.1 min-of-6 flat (3.31 → 3.27 s). The arrow
    # boundary ships only (pk, w_u, aa_term) — 24 B/row — and per-task
    # group counts are bounded by the data-scaled exchange width above.
    _rng = stats.column_range("lineitem", "l_partkey")
    _pack = _rng is not None and 0 <= _rng[0] and _rng[1] < (1 << 31)
    est = F.col("cn_u") / F.lit(1000000000.0)
    if _pack:
        _PK = F.lit(1 << 32).cast("bigint")
        pk = (F.col("s1").cast("bigint") * _PK + F.col("s2")).alias("pk")
        stream = (
            wedges.select(pk, "d")
            .repartition(width, "pk")
            # adjacency filter BEFORE the aggregate (see r12 note above);
            # broadcast (small inputs) / shuffled-hash (at scale) — the
            # stream side is already partitioned on pk, so the shuffled
            # form exchanges only the edge list
            .join(_dim(pairs.select(pk)), ["pk"], "left_anti")
            .select("pk", w_u, aa_term)
        )
        # _lp_candidate_agg is a COMPLETE aggregate per task, so every pk
        # must reach exactly one task: the only exchange below it is the
        # repartition(width, "pk") above (the anti-join keeps that
        # partitioning), and AQE must never coalesce or skew-split it
        # (REPARTITION_BY_NUM is ineligible for both). Pinned by
        # test_link_prediction_single_candidate_aggregate_build.
        cand = stream.mapInArrow(
            _lp_candidate_agg, "pk bigint, cn_u bigint, aa_u bigint"
        )
        # top-25 straight off the aggregate: TakeOrderedAndProject, no
        # post-agg join; unpack AFTER the cut (row-local bit ops)
        _kt = dict(pairs.dtypes)["s1"]
        top = (
            cand.orderBy(F.desc("cn_u"), F.col("pk"))
            .limit(25)
            .select(
                F.shiftrightunsigned("pk", 32).cast(_kt).alias("s1"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).cast(_kt).alias("s2"),
                "cn_u",
                "aa_u",
            )
        )
    else:
        # unpacked fallback (key domain unprovable): r11 shape — JVM
        # aggregate, then anti-join, then the cut
        cand = (
            wedges.repartition(width, "s1", "s2")
            .select("s1", "s2", w_u, aa_term)
            .groupBy("s1", "s2")
            .agg(F.sum("w_u").alias("cn_u"), F.sum("aa_term").alias("aa_u"))
        )
        top = (
            cand.join(_dim(pairs), ["s1", "s2"], "left_anti")
            .orderBy(F.desc("cn_u"), F.col("s1"), F.col("s2"))
            .limit(25)
        )
    return (
        top.join(_dim(deg.selectExpr("src AS s1", "d AS d1")), "s1")
        .join(_dim(deg.selectExpr("src AS s2", "d AS d2")), "s2")
        .select(
            "s1",
            "s2",
            "cn_u",
            F.round(est, AA_SCALE).alias("common_est"),
            F.round(F.col("aa_u") / 1000000000.0, AA_SCALE).alias("adamic_adar"),
            F.round(est / (F.col("d1") + F.col("d2") - est), AA_SCALE).alias("jaccard"),
        )
        .orderBy(F.desc("cn_u"), "s1", "s2")
        .select("s1", "s2", "common_est", "adamic_adar", "jaccard")
    )


@register(
    "graph_degree_stats",
    oracle=f"""
    WITH {_TRI_ORACLE_PAIRS},
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT s1 AS node FROM pairs UNION ALL SELECT s2 AS node FROM pairs)
        GROUP BY node
    )
    SELECT d AS degree, count(*) AS n_nodes,
           round(count(*) * 1.0 / (SELECT count(*) FROM deg), 6) AS frac_nodes
    FROM deg
    GROUP BY d
    ORDER BY d
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph — the first thing to
    check before choosing a join strategy on graph data (a heavy tail means
    the wedge join needs degree-orientation / salting; see
    graph_triangle_count docstring).

    Scale shape: two key-local aggregations (node → degree, degree →
    histogram); the node-count denominator rides along as a window-free
    scalar via a tiny cross join. Nothing here is more than histogram-sized
    after the first shuffle.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = (
        # endpoint stream via one explode: single scan of pairs, and immune
        # to the unmaterialized-self-union rewrite hazard (r9)
        pairs.select(F.explode(F.array("s1", "s2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()  # reused: histogram + node-count scalar
    )
    n_nodes_tot = deg.agg(F.count(F.lit(1)).alias("tot"))
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(n_nodes_tot))
        .select(
            "degree",
            "n_nodes",
            F.round(F.col("n_nodes") / F.col("tot"), 6).alias("frac_nodes"),
        )
        .orderBy("degree")
    )


#: frontier rows above which the per-round semi join abandons broadcast for
#: a shuffled hash join: 4 M 8-byte keys is a ~32 MB broadcast (safe on any
#: executor); a 2-hop ball in a power-law co-purchase graph can cover most
#: of a fact-sized customer domain at 100 TB, so the gate must be on the
#: MEASURED frontier, not the input gauge (the k-core broadcast-hint lesson,
#: r10 ADVICE item 1)
BFS_BCAST_ROWS = 4_000_000


@register(
    "graph_bfs_distance",
    oracle="""
    WITH pairs AS MATERIALIZED (
        SELECT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    s1 AS MATERIALIZED (SELECT DISTINCT s FROM pairs WHERE c = 1),
    c2 AS MATERIALIZED (
        SELECT DISTINCT c FROM pairs
        WHERE s IN (SELECT s FROM s1) AND c <> 1
    ),
    s3 AS (
        SELECT DISTINCT s FROM pairs
        WHERE c IN (SELECT c FROM c2) AND s NOT IN (SELECT s FROM s1)
    )
    SELECT dist, n_nodes FROM (
        SELECT 0 AS dist, CAST(1 AS BIGINT) AS n_nodes
        UNION ALL SELECT 1, count(*) FROM s1 HAVING count(*) > 0
        UNION ALL SELECT 2, count(*) FROM c2 HAVING count(*) > 0
        UNION ALL SELECT 3, count(*) FROM s3 HAVING count(*) > 0
    ) ORDER BY dist
    """,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS (3 hops) from customer c1 over the purchase graph —
    the traversal primitive under "blast radius" / reachability questions.

    The graph is BIPARTITE (customers on one side, suppliers on the other),
    so a BFS frontier strictly alternates sides and min-dist bookkeeping
    collapses to per-round set differences: dist 1 = suppliers of c1,
    dist 2 = customers sharing one of those suppliers (minus c1), dist 3 =
    their suppliers minus dist 1. That replaces the generic Pregel shape —
    three rounds of (doubled 2|E|-edge list ⋈ full reached set) + a full
    re-aggregation of every reached node per round — with three SCANS of
    the single-sided pair list, each a semi join against a frontier that is
    bounded by one side's key domain. Measured at the 1000× cell this took
    the wall from 117 s to ~5 s against the identical leaner DuckDB oracle
    (the text_jaccard_knn_graph fairness precedent: the oracle gets the
    same reformulation, so the denominator is not flattered).

    Scale shape: the pair list (one row per order line, NOT deduplicated —
    reachability is duplicate-invariant, and the distinct would cost a full
    exchange only to shrink 60 M rows by 2%) localCheckpoints once and is
    scanned by every round. Each frontier is distinct-ed at node granularity
    (bounded by its key domain), then joins the next scan either as a
    broadcast (measured rows ≤ BFS_BCAST_ROWS, a ~32 MB ceiling) or as a
    shuffled hash join — gated on the COUNTED frontier size, which the
    histogram needs anyway, not on a static hint (r10 ADVICE k-core
    lesson). The two O(1) counts collected at build are the same
    job-at-build pattern as RFM's inlined centroids."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .localCheckpoint()  # reused by all three rounds: flat lineage
    )

    def _frontier(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        # checkpoint so the count job and the downstream semi join reuse
        # one materialization; gate broadcast on the measured row count.
        # Returns (plain frame for counting, hinted frame for joining) so
        # the dangling hint never rides the aggregate path.
        df = df.localCheckpoint()
        joiner = (
            F.broadcast(df)
            if df.count() <= BFS_BCAST_ROWS
            else df.hint("shuffle_hash")
        )
        return df, joiner

    s1, s1j = _frontier(pairs.where(F.col("c") == 1).select("s").distinct())
    c2, c2j = _frontier(
        pairs.join(s1j, "s", "left_semi")
        .select("c")
        .distinct()
        .where(F.col("c") != 1)
    )
    s3 = (
        pairs.join(c2j, "c", "left_semi")
        .select("s")
        .distinct()
        .join(s1j, "s", "left_anti")
    )
    d0 = spark.range(1).select(
        F.lit(0).alias("dist"), F.lit(1).cast("bigint").alias("n_nodes")
    )

    def _count(df: DataFrame, dist: int) -> DataFrame:
        return df.agg(
            F.lit(dist).alias("dist"), F.count(F.lit(1)).alias("n_nodes")
        ).where(F.col("n_nodes") > 0)

    return (
        d0.unionByName(_count(s1, 1))
        .unionByName(_count(c2, 2))
        .unionByName(_count(s3, 3))
        .orderBy("dist")
    )
