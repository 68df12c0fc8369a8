"""Iterative graph algorithms over DataFrames: PageRank.

The reference ranks pages by term frequency only; the classic web-link
signal on the same crawl is PageRank. This implements the power
iteration as a LOOP OF KEYED JOINS — the canonical Spark shape for
iterative algorithms (each step: rank ⋈ edges on src → groupBy dst →
new rank), with each iteration materialized so the lineage stays flat.

**Fixed-point integer arithmetic, deliberately.** Distributed float
summation is ORDER-DEPENDENT (partial aggregation order varies run to
run and engine to engine), so a float PageRank can never be compared
exactly against an oracle — or even against its own rerun. Ranks here
are int64 mass units (SCALE total), per-edge contributions use integer
division, and the damping mix is integer percent arithmetic:

    rank'(v) = ((100 - P) * (SCALE // N)
                + P * (inflow(v) + dangling // N)) // 100

with P = damping percent, inflow(v) = Σ_{u→v} rank(u) // out_deg(u),
dangling = Σ_{out_deg(u)=0} rank(u). Every step replays bit-exactly in
DuckDB SQL (unrolled iterations), cross-run and cross-engine. Total
mass stays within N units of SCALE (truncation dust only).

Scale shape: per iteration one join keyed on src (edges pre-partitioned
by src would co-locate it) + one partial-aggregated groupBy on dst +
a 1-row dangling aggregate broadcast into the update — no driver-side
graph, no cartesian. The duplicate-clustering connected-components
operator (operators/dedup.py, large-star/small-star) is this module's
sibling shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def pagerank(
    edges: DataFrame,
    n_iters: int = 5,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over an (src, dst) edge list; returns
    ``(node, rank_units)`` with ranks in int64 units of ``SCALE``
    total mass (divide by SCALE for probabilities). Nodes = every id
    appearing as src or dst; duplicate edges count double (weighted by
    multiplicity); dangling mass redistributes uniformly."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    # checkpointed, like every rank below: a persisted DataFrame still
    # carries its whole logical plan, which each iteration re-analyzes
    # and re-plans (link extraction UDFs, id joins and all earlier
    # iterations), so cost grew with the iteration count
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # out-degree pinned onto every node once (0 = dangling)
    nd = nodes.join(
        deg.withColumnRenamed("src", "node"), "node", "left"
    ).select(
        "node", F.coalesce("deg", F.lit(0)).cast("long").alias("deg")
    ).persist()
    nd.count()
    nodes.unpersist()

    base = F.lit(SCALE // n).cast("long")
    teleport = F.lit(((100 - damping_pct) * (SCALE // n)) // 100).cast(
        "long"
    )
    rank = nd.select("node", "deg", base.alias("rank")).localCheckpoint()
    for _ in range(n_iters):
        dangling = (
            rank.where(F.col("deg") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dm"))
        )
        inflow = (
            e.join(
                rank.where(F.col("deg") > 0)
                .select(F.col("node").alias("src"),
                        # `div` = exact int64 division (a float divide
                        # + cast can round up across the boundary)
                        F.expr("rank div deg").alias("share")),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("inflow"))
        )
        new_rank = (
            nd.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node", "deg",
                (
                    teleport
                    + F.expr(
                        f"({damping_pct} * (coalesce(inflow, 0L) "
                        f"+ (dm div {n}))) div 100"
                    )
                ).alias("rank"),
            )
            .localCheckpoint()  # materialized; the lineage stays flat
        )
        rank.unpersist()
        rank = new_rank
    out = rank.select("node", F.col("rank").alias("rank_units"))
    nd.unpersist()
    return out


def sql_pagerank_duckdb(
    edges_cte: str,
    n_iters: int = 5,
    damping_pct: int = 85,
) -> str:
    """DuckDB SQL replaying :func:`pagerank` bit-exactly: the same
    integer fixed-point update unrolled ``n_iters`` times.
    ``edges_cte`` must select (src, dst)."""
    parts = [
        f"WITH e AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e))",
        "nn AS (SELECT count(*)::bigint AS n FROM nodes)",
        "deg AS (SELECT src AS node, count(*)::bigint AS deg FROM e "
        "GROUP BY src)",
        "nd AS (SELECT nodes.node, coalesce(deg.deg, 0)::bigint AS deg "
        "FROM nodes LEFT JOIN deg USING (node))",
        f"r0 AS (SELECT node, deg, ({SCALE} // n)::bigint AS rank "
        "FROM nd, nn)",
    ]
    p = damping_pct
    for i in range(n_iters):
        parts += [
            f"d{i} AS (SELECT coalesce(sum(rank), 0)::bigint AS dm "
            f"FROM r{i} WHERE deg = 0)",
            f"i{i} AS (SELECT e.dst AS node, "
            f"sum(r.rank // r.deg)::bigint AS inflow "
            f"FROM e JOIN r{i} r ON e.src = r.node AND r.deg > 0 "
            "GROUP BY e.dst)",
            f"r{i + 1} AS (SELECT nd.node, nd.deg, "
            f"((((100 - {p}) * ({SCALE} // nn.n)) // 100) "
            f"+ ({p} * (coalesce(i{i}.inflow, 0) + d{i}.dm // nn.n)) "
            f"// 100)::bigint AS rank "
            f"FROM nd LEFT JOIN i{i} USING (node), d{i}, nn)",
        ]
    return (
        ",\n".join(parts)
        + f"\nSELECT node, rank AS rank_units FROM r{n_iters}"
    )
