"""Graph analytics over the near-duplicate graph: fixed-iteration
PageRank. (Beyond-reference scope — SURVEY.md §7 phase 4; pairs with
``dedup.near_dup_clusters``'s connected components — CC tells you
WHICH docs form a duplicate cluster, PageRank ranks WITHIN the dup
graph, e.g. to pick the most-connected canonical copy or to weight
hub documents in curation.)

Scale design — PageRank is the canonical "iterative keyed join"
workload: each iteration is one equi-join of the edge list against
the current rank vector (shuffle on src) plus one hash agg (shuffle
on dst). The edge list materializes ONCE and both per-iteration
shuffles are on high-cardinality node ids; nothing is ever collected,
broadcast, or windowed globally, so the plan is the same at 10^3 or
10^10 edges (this is exactly Pregel-on-dataframes; GraphX/GraphFrames
compile to the same shape).

Cross-engine determinism: a float PageRank is order-of-addition
dependent, so each iteration's neighbor contributions are quantized
to EXACT picounit bigints (``round(rank/deg * 1e12)``) before the
sum — integer addition is associative, so Spark's partial aggregates
and DuckDB's single-threaded fold produce the same bigint, and every
derived double is computed from identical operands. Same pattern as
``sketch.time_rollup`` and ``similarity.cell_centroids``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from siddhi_execution_unique_spark.functions.dedup import (
    near_dup_pairs,
    near_dup_pairs_oracle,
)
from siddhi_execution_unique_spark.functions.text import checkpointed

N_ITERS = 3
_Q = 1_000_000_000_000  # picounit quantization for rank contributions
_D = "cast('0.85' as double)"
_ONE_MINUS_D = "cast('0.15' as double)"


def near_dup_pagerank(docs: DataFrame, n_iters: int = N_ITERS) -> DataFrame:
    """PageRank over the undirected MinHash-LSH near-duplicate graph
    (``dedup.near_dup_pairs``), ``n_iters`` fixed iterations at
    damping 0.85, ranks initialized uniform over the graph's nodes.
    Output: ``(doc_id, deg, pagerank)`` for every node with at least
    one near-dup edge. Symmetric edges mean no dangling nodes, so the
    per-iteration mass balance needs no dangling redistribution term.

    Each iteration joins the materialized edge list to the rank
    vector (equi-join on src), quantizes each edge's contribution to
    exact picounits, and hash-aggregates by dst — two shuffles per
    iteration, both on node ids. Lineage does not grow: the loop is
    unrolled over DataFrame expressions with the edge list checkpointed
    once up front."""
    if n_iters < 1:
        raise ValueError(f"near_dup_pagerank needs n_iters >= 1, got {n_iters}")
    pairs = near_dup_pairs(docs).select("doc_id_1", "doc_id_2")
    edges = checkpointed(
        pairs.select(
            F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
        ).unionByName(
            pairs.select(
                F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
            )
        )
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n = deg.agg(F.count("*").alias("n_nodes"))
    nodes = checkpointed(deg.crossJoin(F.broadcast(n)))
    ranks = nodes.select(
        F.col("src").alias("node"), "deg", "n_nodes",
        F.expr("1 / cast(n_nodes as double)").alias("pr"),
    )
    for _ in range(n_iters):
        contrib = edges.join(
            ranks.select(F.col("node").alias("src"), F.col("deg").alias("sdeg"), "pr"),
            "src",
        ).select(
            "dst",
            F.expr(
                f"cast(round(pr / sdeg * cast({_Q} as double)) as bigint)"
            ).alias("q"),
        )
        insum = contrib.groupBy("dst").agg(F.sum("q").alias("qsum"))
        ranks = nodes.join(insum, nodes["src"] == insum["dst"]).select(
            F.col("src").alias("node"), "deg", "n_nodes",
            F.expr(
                f"{_ONE_MINUS_D} / n_nodes"
                f" + {_D} * (qsum / cast({_Q} as double))"
            ).alias("pr"),
        )
    return ranks.select(
        F.col("node").alias("doc_id"),
        "deg",
        F.expr("round(pr, 9)").alias("pagerank"),
    )


def near_dup_triangles(docs: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    MinHash-LSH near-duplicate graph — the community-density signal
    that separates "template family" dup clusters (dense, high LCC)
    from chain-shaped false merges (sparse, LCC≈0), which is the
    standard diagnostic before trusting connected-components output.
    Output: (doc_id, deg, n_tri, lcc_micro) for every node with at
    least one edge; ``lcc_micro = floor(1e6 * 2*n_tri / (deg*(deg-1)))``
    (0 when deg < 2) — all-integer, so the driver hash is exact.

    Scale design — degree-oriented edge iteration (the MapReduce
    triangle-counting shape from Suri & Vassilvitskii, WWW'11 "the
    curse of the last reducer"): every undirected edge is directed
    from its (deg, id)-smaller endpoint to the larger, so a node
    generates wedges only among its HIGHER-ranked neighbors — total
    wedge volume is O(m^{3/2}) regardless of skew, and the hub that
    would otherwise emit deg² wedges emits none. Wedges close via one
    equi-join on the (q, r) pair key against the adjacency list.
    Three shuffles total (orientation join, wedge self-join on the
    pivot, closure join), all on high-cardinality keys; no windows,
    nothing collected or broadcast beyond the 1-row degree bounds."""
    pairs = near_dup_pairs(docs).select("doc_id_1", "doc_id_2")
    und = checkpointed(
        pairs.select(
            F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
        ).unionByName(
            pairs.select(
                F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
            )
        )
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    oriented = checkpointed(
        und.join(deg.select(F.col("src"), F.col("deg").alias("sdeg")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("ddeg")),
            "dst",
        )
        .filter(F.expr("sdeg < ddeg or (sdeg = ddeg and src < dst)"))
        .select("src", "dst")
    )
    wedges = (
        oriented.select(F.col("src").alias("p"), F.col("dst").alias("q"))
        .join(
            oriented.select(F.col("src").alias("p"), F.col("dst").alias("r")),
            "p",
        )
        .filter(F.col("q") < F.col("r"))
    )
    tris = wedges.join(
        und.select(F.col("src").alias("q"), F.col("dst").alias("r")),
        ["q", "r"],
    )
    per_node = (
        tris.select(
            F.explode(F.array(F.col("p"), F.col("q"), F.col("r"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.join(per_node, deg["src"] == per_node["node"], "left")
        .select(
            F.col("src").alias("doc_id"),
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.expr(
                "case when deg > 1 then"
                " (2000000 * coalesce(n_tri, 0)) div (deg * (deg - 1))"
                " else cast(0 as bigint) end"
            ).alias("lcc_micro"),
        )
    )


def near_dup_triangles_oracle() -> str:
    return f"""
        WITH pairs AS (
          SELECT doc_id_1, doc_id_2 FROM ({near_dup_pairs_oracle()}) t
        ),
        und AS (
          SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
          UNION ALL
          SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs
        ),
        deg_t AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
        oriented AS (
          SELECT u.src, u.dst
          FROM und u
          JOIN deg_t s ON u.src = s.src
          JOIN deg_t d ON u.dst = d.src
          WHERE s.deg < d.deg OR (s.deg = d.deg AND u.src < u.dst)
        ),
        wedges AS (
          SELECT a.src AS p, a.dst AS q, b.dst AS r
          FROM oriented a JOIN oriented b ON a.src = b.src AND a.dst < b.dst
        ),
        tris AS (
          SELECT w.p, w.q, w.r
          FROM wedges w JOIN und u ON u.src = w.q AND u.dst = w.r
        ),
        tri_nodes AS (
          SELECT p AS node FROM tris
          UNION ALL SELECT q FROM tris
          UNION ALL SELECT r FROM tris
        ),
        per_node AS (
          SELECT node, count(*) AS n_tri FROM tri_nodes GROUP BY node
        )
        SELECT d.src AS doc_id, d.deg,
               COALESCE(p.n_tri, 0) AS n_tri,
               CASE WHEN d.deg > 1
                    THEN (2000000 * COALESCE(p.n_tri, 0)) // (d.deg * (d.deg - 1))
                    ELSE CAST(0 AS BIGINT) END AS lcc_micro
        FROM deg_t d LEFT JOIN per_node p ON d.src = p.node
    """


def near_dup_pagerank_oracle(n_iters: int = N_ITERS) -> str:
    duck_d = "CAST('0.85' AS DOUBLE)"
    duck_omd = "CAST('0.15' AS DOUBLE)"
    ctes = [
        f"pairs AS (SELECT doc_id_1, doc_id_2 FROM ({near_dup_pairs_oracle()}) t)",
        """edges AS (
          SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
          UNION ALL
          SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs
        )""",
        "deg_t AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        """nodes AS (
          SELECT src, deg, (SELECT count(*) FROM deg_t) AS n_nodes FROM deg_t
        )""",
        """r0 AS (
          SELECT src AS node, deg, n_nodes, 1 / CAST(n_nodes AS DOUBLE) AS pr
          FROM nodes
        )""",
    ]
    for i in range(1, n_iters + 1):
        ctes.append(
            f"""c{i} AS (
          SELECT e.dst,
                 CAST(round(r.pr / r.deg * CAST({_Q} AS DOUBLE)) AS BIGINT) AS q
          FROM edges e JOIN r{i - 1} r ON e.src = r.node
        )"""
        )
        ctes.append(
            f"""s{i} AS (
          SELECT dst, CAST(sum(q) AS BIGINT) AS qsum FROM c{i} GROUP BY dst
        )"""
        )
        ctes.append(
            f"""r{i} AS (
          SELECT n.src AS node, n.deg, n.n_nodes,
                 {duck_omd} / n.n_nodes
                   + {duck_d} * (s.qsum / CAST({_Q} AS DOUBLE)) AS pr
          FROM nodes n JOIN s{i} s ON n.src = s.dst
        )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT node AS doc_id, deg, round(pr, 9) AS pagerank FROM r{n_iters}
    """
