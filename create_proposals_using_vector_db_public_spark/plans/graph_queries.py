"""Graph-analytics declared queries over the part co-order graph
(market-basket structure mined from lineitem): degree distribution,
PageRank, and triangle counting.

The graph is implicit in the relational data — nodes are parts, an edge
joins two parts that appear in the same order. That is the standard
"build the graph with a self-join, then run iterative analytics as
repeated same-key joins" pattern a Spark cluster uses instead of a
dedicated graph engine (GraphX/GraphFrames compile to exactly these
plans). TPC-H orders carry at most 7 lineitems, so the per-order pair
expansion is bounded (k^2 <= 49); on a real basket dataset the same cap
is applied explicitly before the self-join.

PageRank's float recurrence is engine-order-dependent (the sum over
in-neighbors has no canonical order), so ranks here run in SCALED INTEGER
arithmetic: rank x 1e6, floor division for the per-edge contribution and
the damping multiply. Every iteration is bit-exact on both engines — the
same trick the moment-algebra q_anomaly uses, applied to an iterative
algorithm.

PROVISIONING (measured, round-9 sf30 probe): the degree/triangle pair
expansion is exactly linear in data (DuckDB ground truth: 120.0M pair
rows at sf10 -> 360.0M at sf30, ratio 3.0000), but at a FIXED shuffle
partition count the per-task hash-agg state for the (pa, pb) count grows
with data and spills: sf10->sf30 at 32 partitions measured alpha = 1.22;
re-running sf30 at 96 partitions (per-task state held at the sf10-per-32
level) recovered to alpha = 1.11. Provision spark.sql.shuffle.partitions
proportional to input size for this family — which is what a real
cluster does anyway (partitions scale with executors, executors with
data); AQE can split but won't raise the configured ceiling for this
compute-bound, byte-light shuffle. Raw numbers:
tools/bench_local/spot_sf30_diag_r9.json; narrative: SCALE.md
"Round-9 sf30 spot-check". The registered plans themselves are
unchanged by this note (plan-signature pins must not move); the knob is
the session's, set at provisioning time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query

_PR_SCALE = 1_000_000
_PR_ITERS = 3
_TRI_MIN_W = 2


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes, None when the
    probe is unavailable (no JVM plan handle, API drift)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


# Broadcasting the |nodes|-sized rank state is the right plan while it fits
# executor memory; past that the broadcast build itself OOMs (10^9 nodes x
# ~24 B is tens of GB). Gate on the optimizer's size estimate of the
# degree/state plan (_plan_size_bytes). The estimate is inflated vs the true
# state (~9x at sf10: 443 MB estimated, ~50 MB real), and 1 GiB keeps every
# measured SF (sf0.001 32 KB -> sf10 443 MB) on the verified broadcast plan
# while a billion-node graph (estimate in the hundreds of GB) falls back to
# the plain shuffled join. Module-level so tests can force the fallback.
_PR_BCAST_MAX_BYTES = 1 << 30

# Directed-edge prefix (io + e) — the triangle oracle stops here so its
# plan never carries the 2x-undirected u CTE at all (DuckDB executes an
# unreferenced MATERIALIZED CTE, and even an unhinted unreferenced CTE is
# dead text in the query).
_IO_E_SQL = """
io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS w
  FROM io a JOIN io b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
)
"""

_U_SQL = """
u AS {hint}(
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e
)
"""

# Unhinted variant: the degree oracle references u exactly once, so DuckDB's
# default CTE inlining is the right plan there.
_EDGES_SQL = _IO_E_SQL.strip() + ",\n" + _U_SQL.format(hint="").strip()

# MATERIALIZED variant — ONLY for the PageRank oracle, where u is referenced
# in every unrolled iteration. DuckDB has no exchange reuse, so without the
# hint the sf10 one-shot recomputes the self-join per iteration and spills
# unboundedly; the Spark side gets the same once-only edge list from reusing
# its single edge-list exchange. Keeping the hint out of the shared
# prefix stops the triangle/degree oracles from materializing ~120M rows at
# sf10 for a CTE they use once or never.
_EDGES_SQL_MAT = (
    _IO_E_SQL.strip() + ",\n" + _U_SQL.format(hint="MATERIALIZED ").strip()
)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-order edges (pa < pb) with co-occurrence weight.

    Declared as the basket-expansion plan, not a self-join: collect each
    order's distinct part set (bounded — TPC-H orders hold ≤7 lineitems),
    then explode the sorted in-array pair combinations. That is ONE
    shuffle keyed by order plus the final (pa, pb) count, where the
    equivalent io⋈io self-join costs a third exchange and re-materializes
    the basket k² times through the join. Same output, same oracle
    (the oracle keeps the textbook self-join formulation — proving the
    rewrite)."""
    io = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # Establish the basket partitioning EXPLICITLY at the session's
    # shuffle parallelism: groupBy("o") reuses a same-key repartition, so
    # this is still exactly ONE exchange — but the basket build (the
    # collect_set + k² pair explode, the compute-heavy step) now runs at
    # shuffle_n-way parallelism instead of inheriting the scan's
    # byte-based split count (3 splits at sf0.1 — measured q_graph_degree
    # 1.84 s -> 1.09 s, hash-identical). Orders hold <= 7 lineitems, so
    # the skipped map-side partial aggregation saved almost no shuffle
    # bytes. Same discipline as semdedup_keep's explicit count.
    try:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        io = io.repartition(shuffle_n, "o")
    except ValueError:  # non-numeric conf ("auto" on some platforms)
        io = io.repartition("o")
    baskets = io.groupBy("o").agg(
        F.array_sort(F.collect_set("p")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice(
                            "ps", i + F.lit(2), F.size("ps")
                        ),
                        lambda y: F.struct(
                            x.alias("pa"), y.alias("pb")
                        ),
                    ),
                )
            )
        ).alias("pr")
    )
    return pairs.groupBy(
        F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb")
    ).agg(F.count(F.lit(1)).alias("w"))


def _undirected(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))


def _degrees(u: DataFrame) -> DataFrame:
    return u.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))


# --- degree distribution -----------------------------------------------------

_DEGREE_ORACLE = f"""
WITH {_EDGES_SQL},
d AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM u GROUP BY src)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM d GROUP BY degree
"""


@query("q_graph_degree", oracle=_DEGREE_ORACLE)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-order graph — the first question
    asked of any graph (skew check before choosing a partitioning for the
    iterative passes). Two aggregations: per-node degree, then the
    distribution; the heavy step is the basket self-join, one shuffle
    keyed by order."""
    u = _undirected(_edges(spark, sf_dir))
    d = u.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return d.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# --- PageRank (scaled-integer, unrolled iterations) --------------------------


def _pr_iteration_sql(k: int) -> str:
    return f"""
r{k} AS (
  SELECT d.src AS node, d.deg,
         CAST(150000 + (85 * coalesce(s.contrib, 0)) // 100 AS BIGINT) AS r
  FROM d LEFT JOIN (
    SELECT u.dst, sum(p.r // p.deg) AS contrib
    FROM u JOIN r{k - 1} p ON u.src = p.node
    GROUP BY u.dst
  ) s ON d.src = s.dst
)"""


_PAGERANK_ORACLE = (
    f"WITH {_EDGES_SQL_MAT},\n"
    "d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM u GROUP BY src),\n"
    f"r0 AS (SELECT src AS node, deg, CAST({_PR_SCALE} AS BIGINT) AS r FROM d)"
    + "".join("," + _pr_iteration_sql(k) for k in range(1, _PR_ITERS + 1))
    + f"""
SELECT node, r AS rank_e6, deg
FROM r{_PR_ITERS}
ORDER BY r DESC, node ASC LIMIT 20
"""
)


@query("q_pagerank", oracle=_PAGERANK_ORACLE)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {iters} unrolled iterations) over the
    co-order graph, top-20 nodes. Ranks are integers scaled by 1e6:
    per-edge contribution is r div deg (floor), damping is
    (85 * sum) div 100 — no float ever enters, so the iteration is
    deterministic under any partitioning and any summation order, and the
    DuckDB oracle replays it bit-for-bit through a CTE chain.

    Scale shape: each iteration is one join of the edge list with the
    |nodes|-sized rank table (broadcast while the size estimate says the
    state fits executor memory — see _PR_BCAST_MAX_BYTES — else a plain
    same-key shuffle join against the src-partitioned edge list) plus one
    partial+final sum keyed by dst — the textbook Pregel-on-DataFrames
    plan. The builder is pure: it fires no job beyond the parquet schema
    read and keeps nothing between calls. The edge list is hash-partitioned
    by ONE exchange; every iteration's reference to it is the same
    subtree, so Spark's exchange reuse computes it once per execution."""
    edges = _edges(spark, sf_dir)
    # Decide the per-iteration join strategy ONCE, from the degree-table
    # plan's own size estimate (the rank state has identical cardinality
    # and ~24 B rows every iteration).
    est = _plan_size_bytes(_degrees(_undirected(edges)))
    # Unavailable estimate -> KEEP the historical broadcast plan (verified
    # fastest at every measured SF); only a confirmed over-limit estimate
    # flips to the shuffle join. The fallback exists for graphs proven too
    # big to broadcast, not for probe hiccups on small ones.
    bcast_state = est is None or est <= _PR_BCAST_MAX_BYTES
    # Hash-partition the edge list ONCE, on the key each mode reuses every
    # iteration: broadcast mode groups contributions by dst, so a
    # dst-partitioned edge list makes the per-iteration exchange of the
    # full edge-sized (dst, contrib) stream disappear (measured ~20% at
    # sf0.1); shuffle mode joins on src, so a src-partitioned edge list
    # lets the join reuse that partitioning and only the state side plus
    # the narrow (dst, c) longs move per iteration — the
    # reuse-a-partitioning-across-stages discipline either way.
    part_key = "dst" if bcast_state else "src"
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        u = _undirected(edges).repartition(n_part, part_key)
    except ValueError:  # conf may be non-numeric ("auto" on some platforms)
        u = _undirected(edges).repartition(part_key)
    state = _degrees(u).select(
        F.col("src").alias("node"), "deg", F.lit(_PR_SCALE).cast("bigint").alias("r")
    )
    for _ in range(_PR_ITERS):
        # rank state is |nodes|-sized — broadcast it (so the much larger
        # edge table never re-shuffles, and being dst-partitioned it needs
        # no exchange for the per-dst sum either) while the gate above
        # says it fits; past the gate, plain-join against the
        # src-partitioned edge list instead of OOMing the broadcast build.
        # u holds both directions of every edge and every node has one, so
        # node x's dst group has exactly deg(x) rows: the group's count IS
        # the degree, and every node gets a row — the oracle's left join
        # back to the degree table adds nothing here.
        state = (
            u.join(F.broadcast(state) if bcast_state else state,
                   u.src == state.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.count(F.lit(1)).alias("deg"),
                (F.lit(150_000) + F.expr("(85 * sum(r div deg)) div 100"))
                .cast("bigint").alias("r"),
            )
        )
    return (
        state.orderBy(F.col("r").desc(), F.col("node").asc())
        .limit(20)
        .select("node", F.col("r").alias("rank_e6"), "deg")
    )


if q_pagerank.__doc__:  # absent under python -OO
    q_pagerank.__doc__ = q_pagerank.__doc__.format(iters=_PR_ITERS)


# --- triangle counting -------------------------------------------------------

_TRIANGLE_ORACLE = f"""
WITH {_IO_E_SQL.strip()},
s AS (SELECT pa, pb FROM e WHERE w >= {_TRI_MIN_W})
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM s e1
JOIN s e2 ON e2.pa = e1.pb
JOIN s e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


@query("q_triangle_count", oracle=_TRIANGLE_ORACLE)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the strong co-order subgraph (pairs co-ordered
    >= {w} times). Edges are kept in canonical (low, high) orientation so
    each triangle a<b<c is found exactly once via the wedge join
    (a,b)⋈(b,c) closed by (a,c) — no post-hoc dedup by 6 permutations.

    Scale shape: the ordered-edge convention is THE standard trick that
    keeps distributed triangle counting tractable; the wedge join's skew
    (high-degree nodes fan out quadratically) is what the weight floor
    and AQE skew-split absorb. Community detection preprocessing at
    100 TB looks exactly like this."""
    s = _edges(spark, sf_dir).filter(F.col("w") >= _TRI_MIN_W).select("pa", "pb")
    e1 = s.alias("e1")
    e2 = s.alias("e2")
    e3 = s.alias("e3")
    wedges = e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
    tri = wedges.join(
        e3,
        (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
    )
    n_edges = s.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))


if q_triangle_count.__doc__:  # absent under python -OO
    q_triangle_count.__doc__ = q_triangle_count.__doc__.format(w=_TRI_MIN_W)
