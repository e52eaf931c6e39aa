"""Graph analytics over the order graph (SURVEY.md §2.N).

A training-data pipeline is full of graph moments — near-dup clusters,
citation/link graphs, co-occurrence structure — and the reference's
behavioral domain has them too (product affinity, co-purchase). This
module derives a deterministic graph from the fixtures (the part
CO-PURCHASE graph: two parts are adjacent iff some order contains both)
and runs the four canonical computations over it: degree distribution,
triangle counting, connected components, and PageRank.

Scale discipline shared by all four:
  * the edge list is built by ONE self-equi-join of lineitem on order key
    (orders have ~4 lines, so the pair explosion per order is ~6 rows —
    bounded fan-out, no quadratic scan), then `distinct` — at 100 TB this
    is the standard edges-from-baskets shuffle and partitions by order key;
  * triangle counting and connected components run on the WITHIN-BRAND
    subgraph (brand equality pushed into the edge build), which keeps the
    per-component and per-join working set bounded by brand slice — the
    same blocking idea the dedup family uses for pair generation;
  * PageRank and components iterate DRIVER-SIDE over a bounded number of
    rounds with a lineage-cutting checkpoint per round: each round is one
    join + one aggregate on the node/edge tables (never the raw fact
    table), and the checkpoint keeps lineage flat so round N's plan
    doesn't replay rounds 1..N-1. That is exactly how large-scale
    PageRank runs on Spark. The checkpoint strategy is the `ckpt` knob
    (operators/_shared.py): executor-local by default, reliable
    `checkpoint()` via SPARK_GRAFT_CHECKPOINT_DIR on a real cluster where
    localCheckpoint blocks would die with a lost executor.

Cross-engine float discipline (PageRank): every division happens on
identical IEEE doubles, every per-edge contribution is half-up-quantized
to 1e-12 BEFORE the incoming sum, and the sum runs in DECIMAL(38,12) —
so both engines add exactly the same quantities exactly, and the 1e-9
quantization of each round's rank makes the iteration cross-engine
bit-stable (the dsum discipline of operators/_shared.py, applied per
iteration).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..registry import register
from ._shared import ckpt, dsum, qdec, qround, qsum, t, with_stats

# Shared DuckDB edge CTEs (kept textually identical across oracles).
_EDGES_DUCK = """
edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""

_BRAND_EDGES_DUCK = """
edges AS (
    SELECT DISTINCT pa.p_brand AS brand, a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    JOIN part pa ON pa.p_partkey = a.l_partkey
    JOIN part pb ON pb.p_partkey = b.l_partkey
    WHERE pa.p_brand = pb.p_brand
)"""


def _copurchase_edges(spark, sf_dir, eager=True):
    """Undirected co-purchase edge list (src < dst, distinct).

    Materialized eagerly by default: every graph operator consuming it
    DIRECTLY reads it through 2+ branches (symmetrize, join legs, node
    derivation), and without the checkpoint Catalyst re-derives the
    basket self-join — the only fact-scale pass — once per branch
    (duplicate-scan sweep). At production scale this table is the
    persisted graph artifact. ``eager=False`` (r13c) is for the
    _brand_edges path, whose SINGLE consumer is the part-join chain
    feeding its own checkpoint — materializing the unfiltered edge list
    first was a redundant full-table pass."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    e = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return ckpt(e) if eager else e


def _brand_edges(spark, sf_dir):
    """Within-brand co-purchase edges (brand, src, dst) — the brand
    equality is the blocking key that keeps the triangle/component
    working sets bounded by brand slice."""
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    e = (
        _copurchase_edges(spark, sf_dir, eager=False)
        .join(part.select(F.col("p_partkey").alias("src"), F.col("p_brand").alias("ba")), "src")
        .join(part.select(F.col("p_partkey").alias("dst"), F.col("p_brand").alias("bb")), "dst")
        .filter(F.col("ba") == F.col("bb"))
        .select(F.col("ba").alias("brand"), "src", "dst")
    )
    return ckpt(e)


def _sym(edges, *keys):
    """Symmetrize an src<dst edge list (both directions, no dups)."""
    rev = edges.select(
        *keys, F.col("dst").alias("src"), F.col("src").alias("dst")
    ).select(*keys, "src", "dst")
    return edges.select(*keys, "src", "dst").unionByName(rev)


@register(
    "graph_degree",
    oracle=f"""
WITH {_EDGES_DUCK},
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY 1)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree
""",
)
def graph_degree(spark, sf_dir):
    """Degree distribution of the co-purchase graph — the first thing a
    pipeline computes over any derived graph (hub detection feeds the
    skew guards of every downstream join). One basket self-join builds
    the edges, one hash aggregate per direction counts them; the
    histogram is an aggregate over the bounded node table."""
    e = _copurchase_edges(spark, sf_dir)
    deg = _sym(e).groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "graph_triangles",
    oracle=f"""
WITH {_BRAND_EDGES_DUCK},
tri AS (
    SELECT e1.brand, COUNT(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.brand = e1.brand AND e2.src = e1.dst
    JOIN edges e3 ON e3.brand = e1.brand AND e3.src = e1.src AND e3.dst = e2.dst
    GROUP BY 1
),
stats AS (
    SELECT brand, COUNT(*) AS n_edges,
           COUNT(DISTINCT node) AS n_nodes
    FROM (SELECT brand, src, dst, unnest([src, dst]) AS node FROM edges)
    GROUP BY 1
)
SELECT s.brand, CAST(s.n_nodes AS BIGINT) AS n_nodes, CAST(s.n_edges / 2 AS BIGINT) AS n_edges,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles
FROM stats s LEFT JOIN tri t ON t.brand = s.brand
""",
)
def graph_triangles(spark, sf_dir):
    """Exact triangle count per within-brand co-purchase subgraph —
    the clustering-structure probe (affinity cliques). Edges are stored
    src < dst, so each triangle a<b<c is found exactly once by the
    two-hop join e(a,b)⋈e(b,c)⋈e(a,c). The brand key blocks the join:
    pair work is Σ_brand |E_b|^{3/2}-ish instead of |E|^{3/2} over the
    whole graph, and the blocking column rides the same shuffle key."""
    e = _brand_edges(spark, sf_dir)
    e1 = e.select("brand", F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select("brand", F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select("brand", F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = (
        e1.join(e2, ["brand", "b"])
        .join(e3, ["brand", "a", "c"])
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        e.select("brand", F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("brand")
        .agg(
            F.countDistinct("node").alias("n_nodes"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        )
    )
    return nodes.join(tri, "brand", "left").select(
        "brand",
        "n_nodes",
        "n_edges",
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
    )


@register(
    "graph_cc",
    oracle=f"""
WITH RECURSIVE {_BRAND_EDGES_DUCK},
sym AS (
    SELECT brand, src, dst FROM edges
    UNION ALL
    SELECT brand, dst, src FROM edges
),
nodes AS (SELECT DISTINCT brand, src AS node FROM sym),
reach(brand, v, r) AS (
    SELECT brand, node, node FROM nodes
    UNION
    SELECT e.brand, e.dst, reach.r
    FROM reach JOIN sym e ON e.brand = reach.brand AND e.src = reach.v
),
labels AS (SELECT brand, v, MIN(r) AS lbl FROM reach GROUP BY 1, 2),
comps AS (SELECT brand, lbl, COUNT(*) AS sz FROM labels GROUP BY 1, 2)
SELECT brand, COUNT(*) AS n_components, CAST(SUM(sz) AS BIGINT) AS n_nodes,
       CAST(MAX(sz) AS BIGINT) AS largest_component
FROM comps GROUP BY brand
""",
)
def graph_cc(spark, sf_dir):
    """Connected components of each within-brand subgraph via iterative
    label propagation (hash-to-min): every node starts as its own label
    and repeatedly takes the min of its neighborhood until a fixpoint —
    the same algorithm behind llm_dedup_cluster's duplicate groups,
    here on an explicit graph. Convergence needs ~diameter rounds; each
    round is one join + one aggregate on the (bounded) edge/node tables
    with a localCheckpoint to keep lineage flat, and the loop stops when
    a round changes zero labels (one bounded count per round — the
    driver-side scalar an iterative Spark algorithm is allowed)."""
    sym = ckpt(_sym(_brand_edges(spark, sf_dir), "brand"))
    labels = ckpt(
        sym.select("brand", F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for _ in range(50):
        nbr = (
            sym.join(
                labels.select("brand", F.col("node").alias("src"), "lbl"),
                ["brand", "src"],
            )
            .groupBy("brand", F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr_min"))
        )
        stepped = labels.join(nbr, ["brand", "node"], "left").select(
            "brand",
            "node",
            F.least("lbl", F.coalesce("nbr_min", "lbl")).alias("lbl"),
            (F.coalesce("nbr_min", "lbl") < F.col("lbl")).alias("changed"),
        )
        # Pointer jumping (lbl ← lbl(lbl)) halves the remaining distance
        # to the component minimum each round — convergence in O(log
        # diameter) rounds instead of O(diameter), the standard
        # large-graph trick.
        parent = stepped.select(
            "brand", F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        new = ckpt(
            stepped.join(parent, ["brand", "lbl"], "left")
            .select(
                "brand",
                "node",
                F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl"),
                (
                    F.col("changed")
                    | (F.coalesce("lbl2", "lbl") < F.col("lbl"))
                ).alias("changed"),
            )
        )
        n_changed = new.filter("changed").count()
        labels = new.drop("changed")
        if n_changed == 0:
            break
    comps = labels.groupBy("brand", "lbl").agg(F.count(F.lit(1)).alias("sz"))
    return comps.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("sz").cast("bigint").alias("n_nodes"),
        F.max("sz").cast("bigint").alias("largest_component"),
    )


def _pagerank_oracle(iters: int = 10) -> str:
    """Unrolled PageRank oracle (DuckDB disallows aggregates in a
    recursive CTE term, so the bounded iteration is generated as chained
    CTEs — same arithmetic, same quantization as the Spark loop)."""
    ctes = [
        f"WITH {_EDGES_DUCK}",
        "sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)",
        "deg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM sym GROUP BY 1)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)",
        "pr0 AS (SELECT node, outdeg, 1.0 / nn.n AS r FROM deg, nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
    SELECT d.node, d.outdeg,
           FLOOR((0.15 / nn.n + 0.85 * COALESCE(s.insum, 0)) * 1000000000 + 0.5)
               / 1000000000 AS r
    FROM deg d
    LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(FLOOR(p.r / p.outdeg * 1000000000000 + 0.5)
                             / 1000000000000 AS DECIMAL(38,12))) AS DOUBLE) AS insum
        FROM pr{i - 1} p JOIN sym e ON e.src = p.node GROUP BY 1
    ) s ON s.node = d.node, nn
)"""
        )
    return (
        ",\n".join(ctes)
        + f"""
SELECT node, pr_rank, rank FROM (
    SELECT node, FLOOR(r * 1000000 + 0.5) / 1000000 AS pr_rank,
           ROW_NUMBER() OVER (ORDER BY FLOOR(r * 1000000 + 0.5) / 1000000 DESC, node) AS rank
    FROM pr{iters}
) WHERE rank <= 20
"""
    )


def _pagerank_full(spark, sf_dir):
    """Full PageRank vector (d = 0.85, 10 rounds) — the iterative core
    of graph_pagerank, exposed so invariant tests can check whole-vector
    properties (Σ rank ≈ 1) that the top-20 contract surface hides.

    Single-evaluation expectation (r13c): the FINAL round is lazy (its
    checkpoint was dropped as single-consumer), so each action on the
    returned DataFrame recomputes round 10 from the round-9 checkpoint.
    A consumer issuing multiple actions should ckpt() the result itself.
    """

    sym = ckpt(_sym(_copurchase_edges(spark, sf_dir)))
    deg = ckpt(sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    ))
    nn = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pr = deg.crossJoin(F.broadcast(nn)).select(
        "node", "outdeg", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for rnd in range(10):
        # Per-NODE contribution pre-quantization (r13 optimization,
        # guide §1.2 step 2 — per-task work): q12(r/outdeg) depends only
        # on the source node, so computing it once per node (~|V| rows)
        # before the edge join — instead of per EDGE inside the join
        # projection (~|E| = 2·edges rows per round) — produces the
        # exact same DECIMAL addend on every edge and therefore an
        # identical decimal sum, while cutting the divide/floor/cast
        # chain from O(|E|) to O(|V|) per round.
        src_c = pr.select(
            F.col("node").alias("src"),
            qround(F.col("r") / F.col("outdeg"), 12).cast("decimal(38,12)").alias("c"),
        )
        insum = (
            src_c.join(sym, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("double").alias("insum"))
        )
        pr = (
            deg.join(insum, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                "outdeg",
                qround(
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce("insum", F.lit(0.0)),
                    9,
                ).alias("r"),
            )
        )
        # Checkpoint EVERY round. Measured both ways: every-other-round
        # halves the barrier count and wins at sf0.01 (8.3 s → 6.2 s)
        # but LOSES at sf0.1 (15.1 s → 24.3 s) — on the bigger graph the
        # two-round lineage degrades the per-job plan more than the
        # saved barrier buys. Per-round is the shape that holds as the
        # graph grows, which is the scale this operator is for. The
        # FINAL round stays lazy (r13c): its only consumer is the
        # output tail, which evaluates it exactly once — same
        # single-consumer rule as graph_closeness's last frontier.
        if rnd < 9:
            pr = ckpt(pr)
    return pr


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank (d = 0.85, 10 rounds) over the co-purchase graph — the
    canonical iterative graph workload, run the way it scales on Spark:
    a bounded driver-side loop where each round is one equi-join of the
    rank table with the edge list plus one keyed aggregate, checkpointed
    per round so round N never replays rounds 1..N-1. The symmetrized
    graph has no dangling nodes (every node in the edge list has
    outdegree ≥ 1), so no dangling-mass correction term is needed.
    Cross-engine exactness: per-edge contributions are half-up-quantized
    to 1e-12 and summed in DECIMAL(38,12); each round's rank quantizes
    to 1e-9 — both engines iterate on bit-identical values. Output is
    the top-20 nodes (rank ties break on node id)."""
    pr = _pagerank_full(spark, sf_dir)
    w = Window.orderBy(F.desc("pr_rank"), F.asc("node"))
    return (
        pr.select("node", qround(F.col("r")).alias("pr_rank"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
    )


@register(
    "graph_adamic_adar",
    oracle=f"""
WITH {_BRAND_EDGES_DUCK},
sym AS (
    SELECT brand, src, dst FROM edges
    UNION ALL
    SELECT brand, dst, src FROM edges
),
deg AS (SELECT brand, src AS node, CAST(COUNT(*) AS DOUBLE) AS d FROM sym GROUP BY 1, 2),
twohop AS (
    SELECT e1.brand, e1.dst AS a, e2.dst AS b, e1.src AS z
    FROM sym e1 JOIN sym e2 ON e2.brand = e1.brand AND e2.src = e1.src
    WHERE e1.dst < e2.dst
),
cand AS (
    SELECT th.brand, th.a, th.b, th.z FROM twohop th
    LEFT JOIN edges ex ON ex.brand = th.brand AND ex.src = th.a AND ex.dst = th.b
    WHERE ex.src IS NULL
),
scored AS (
    SELECT c.brand, c.a, c.b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           FLOOR(CAST(SUM(CAST(FLOOR(1.0 / (FLOOR(ln(d.d) * 1000000000 + 0.5) / 1000000000)
                                     * 1000000000 + 0.5) / 1000000000
                          AS DECIMAL(38,12))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS aa_score
    FROM cand c JOIN deg d ON d.brand = c.brand AND d.node = c.z
    WHERE d.d >= 2
    GROUP BY 1, 2, 3
)
SELECT brand, a, b, n_common, aa_score, rank FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY aa_score DESC, brand, a, b) AS rank
    FROM scored
) WHERE rank <= 20
""",
)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the within-brand co-purchase
    graph — "which parts SHOULD be co-purchased but aren't yet": pairs
    at distance 2 scored by Σ 1/ln(deg(z)) over their common neighbors
    (rare shared neighbors count more than hubs). The two-hop
    enumeration joins the symmetrized edge list with itself on the
    middle node WITH the brand blocking key (pair work Σ_z deg(z)² per
    brand, never global), existing edges are anti-joined away, and the
    per-pair sum runs over 1e-9-quantized reciprocals in
    DECIMAL(38,12) so scores are bit-identical cross-engine. Common
    neighbors always have degree ≥ 2, so ln(d) is never 0. Output:
    global top-20 predicted links (ties break on brand, a, b)."""
    edges = _brand_edges(spark, sf_dir)
    sym = _sym(edges, "brand")
    deg = sym.groupBy("brand", F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    e1 = sym.select("brand", F.col("src").alias("z"), F.col("dst").alias("a"))
    e2 = sym.select("brand", F.col("src").alias("z"), F.col("dst").alias("b"))
    twohop = e1.join(e2, ["brand", "z"]).filter(F.col("a") < F.col("b"))
    cand = twohop.join(
        edges.select("brand", F.col("src").alias("a"), F.col("dst").alias("b")),
        ["brand", "a", "b"],
        "left_anti",
    )
    scored = (
        cand.join(
            deg.filter(F.col("d") >= 2).select("brand", F.col("node").alias("z"), "d"),
            ["brand", "z"],
        )
        .groupBy("brand", "a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            qround(
                dsum(qround(F.lit(1.0) / qround(F.log("d"), 9), 9), 12)
            ).alias("aa_score"),
        )
    )
    w = Window.orderBy(F.desc("aa_score"), F.asc("brand"), F.asc("a"), F.asc("b"))
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 20)
    )


@register(
    "graph_clustering_coeff",
    oracle=f"""
WITH {_BRAND_EDGES_DUCK},
sym AS (
    SELECT brand, src, dst FROM edges
    UNION ALL
    SELECT brand, dst, src FROM edges
),
deg AS (SELECT brand, src AS node, CAST(COUNT(*) AS DOUBLE) AS d FROM sym GROUP BY 1, 2),
tri AS (
    SELECT e1.brand, t.node, COUNT(*) AS tri2
    FROM edges e1
    JOIN edges e2 ON e2.brand = e1.brand AND e2.src = e1.dst
    JOIN edges e3 ON e3.brand = e1.brand AND e3.src = e1.src AND e3.dst = e2.dst,
         unnest([e1.src, e1.dst, e2.dst]) AS t(node)
    GROUP BY 1, 2
),
percc AS (
    SELECT d.brand,
           FLOOR(COALESCE(t.tri2, 0) / (d.d * (d.d - 1.0) / 2.0) * 1000000000 + 0.5)
               / 1000000000 AS cc
    FROM deg d LEFT JOIN tri t ON t.brand = d.brand AND t.node = d.node
    WHERE d.d >= 2
)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       FLOOR(CAST(SUM(CAST(cc AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
             * 1000000 + 0.5) / 1000000 AS mean_cc
FROM percc GROUP BY brand
""",
)
def graph_clustering_coeff(spark, sf_dir):
    """Mean local clustering coefficient per brand subgraph — "how
    clique-ish is each product family": cc(v) = triangles(v) /
    C(deg v, 2), averaged over nodes with degree ≥ 2. Reuses the
    brand-blocked triangle join (each triangle credits all three
    corners via one explode — no second triangle pass), left-joined
    onto the degree table so triangle-free nodes contribute zero. Per-
    node coefficients quantize at 1e-9 and average through
    DECIMAL(38,12), so the per-brand mean is bit-identical across
    engines. Output is one row per brand at any scale."""
    e = _brand_edges(spark, sf_dir)
    sym = _sym(e, "brand")
    deg = sym.groupBy("brand", F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    e1 = e.select("brand", F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select("brand", F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select("brand", F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = (
        e1.join(e2, ["brand", "b"])
        .join(e3, ["brand", "a", "c"])
        .select("brand", F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("brand", "node")
        .agg(F.count(F.lit(1)).alias("tri2"))
    )
    percc = (
        deg.filter(F.col("d") >= 2)
        .join(tri, ["brand", "node"], "left")
        .select(
            "brand",
            qround(
                F.coalesce("tri2", F.lit(0)) / (F.col("d") * (F.col("d") - 1.0) / 2.0),
                9,
            ).alias("cc"),
        )
    )
    return percc.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        qround(
            dsum(F.col("cc"), 12) / F.count(F.lit(1))
        ).alias("mean_cc"),
    )


def _kcore_oracle(k: int = 3, rounds: int = 8) -> str:
    """Unrolled k-core peeling oracle: the operator's CONTRACT is
    "exactly `rounds` peel rounds" (a fixed-depth spec both engines can
    execute identically), with a converged flag reporting whether more
    peeling would change anything."""
    ctes = [f"WITH {_BRAND_EDGES_DUCK}", "e0 AS MATERIALIZED (SELECT brand, src, dst FROM edges)"]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
    SELECT brand, node, COUNT(*) AS dg
    FROM (SELECT brand, src AS node FROM e{i - 1}
          UNION ALL SELECT brand, dst FROM e{i - 1})
    GROUP BY 1, 2
), k{i} AS MATERIALIZED (SELECT brand, node FROM d{i} WHERE dg >= {k}),
e{i} AS MATERIALIZED (
    SELECT e.brand, e.src, e.dst FROM e{i - 1} e
    JOIN k{i} a ON a.brand = e.brand AND a.node = e.src
    JOIN k{i} b ON b.brand = e.brand AND b.node = e.dst
)"""
        )
    ctes.append(
        f"""dfin AS (
    SELECT brand, node, COUNT(*) AS dg
    FROM (SELECT brand, src AS node FROM e{rounds}
          UNION ALL SELECT brand, dst FROM e{rounds})
    GROUP BY 1, 2
)"""
    )
    return (
        ",\n".join(ctes)
        + f"""
SELECT d.brand, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e{rounds} e WHERE e.brand = d.brand) AS BIGINT)
           AS n_edges,
       BOOL_AND(d.dg >= {k}) AS converged
FROM dfin d GROUP BY d.brand
"""
    )


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark, sf_dir):
    """3-core decomposition of each brand subgraph by iterative peeling
    — strip nodes of degree < 3, re-count, repeat — the densest-
    substructure extractor (spam rings, tightly-coupled product
    families). The CONTRACT is exactly 8 peel rounds plus a converged
    flag (true iff a 9th round would remove nothing), which makes the
    iterative algorithm bit-deterministic on both engines regardless
    of convergence speed; on these graphs 8 rounds converge (the flag
    says so and the driver hashes it). Spark runs the bounded driver
    loop — per round one degree aggregate + two semi-joins on the
    (brand-blocked) edge table, checkpointed so round N never replays
    rounds 1..N-1. Integer-only arithmetic: nothing to quantize."""
    e = _brand_edges(spark, sf_dir)
    for _ in range(8):
        deg = (
            e.select("brand", F.col("src").alias("node"))
            .unionByName(e.select("brand", F.col("dst").alias("node")))
            .groupBy("brand", "node")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        keep = deg.filter(F.col("dg") >= 3).select("brand", "node")
        e = ckpt(
            e.join(
                keep.select("brand", F.col("node").alias("src")), ["brand", "src"], "left_semi"
            )
            .join(
                keep.select("brand", F.col("node").alias("dst")), ["brand", "dst"], "left_semi"
            )
        )
    dfin = (
        e.select("brand", F.col("src").alias("node"))
        .unionByName(e.select("brand", F.col("dst").alias("node")))
        .groupBy("brand", "node")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    edges_per_brand = e.groupBy("brand").agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        dfin.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min(F.col("dg") >= 3).alias("converged"),
        )
        .join(edges_per_brand, "brand")
        .select("brand", "n_nodes", "n_edges", "converged")
    )


@register(
    "graph_jaccard_linkpred",
    oracle=f"""
WITH {_BRAND_EDGES_DUCK},
sym AS MATERIALIZED (
    SELECT brand, src, dst FROM edges
    UNION ALL
    SELECT brand, dst, src FROM edges
),
deg AS MATERIALIZED (SELECT brand, src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1, 2),
twohop AS (
    SELECT e1.brand, e1.dst AS a, e2.dst AS b
    FROM sym e1 JOIN sym e2 ON e2.brand = e1.brand AND e2.src = e1.src
    WHERE e1.dst < e2.dst
),
cand AS MATERIALIZED (
    SELECT th.brand, th.a, th.b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM twohop th
    LEFT JOIN edges ex ON ex.brand = th.brand AND ex.src = th.a AND ex.dst = th.b
    WHERE ex.src IS NULL
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT c.brand, c.a, c.b, c.n_common,
           FLOOR(CAST(c.n_common AS DOUBLE) / (da.d + db.d - c.n_common)
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM cand c
    JOIN deg da ON da.brand = c.brand AND da.node = c.a
    JOIN deg db ON db.brand = c.brand AND db.node = c.b
)
SELECT brand, a, b, n_common, jaccard, rank FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, brand, a, b) AS rank
    FROM scored
) WHERE rank <= 20
""",
)
def graph_jaccard_linkpred(spark, sf_dir):
    """Jaccard link prediction over the within-brand co-purchase graph —
    the degree-normalized sibling of graph_adamic_adar: candidate pairs
    at distance 2 scored by |N(a)∩N(b)| / |N(a)∪N(b)|. Same blocked
    two-hop enumeration (brand rides every join key, work is Σ_z deg(z)²
    per brand, never global), existing edges anti-joined away. The score
    is a ratio of INTEGERS (common count over inclusion-exclusion union
    size), so the only float op is one final division, quantized half-up
    at 1e-6 — no decimal-sum machinery needed. Output: global top-20
    predicted links (ties break on brand, a, b)."""
    edges = _brand_edges(spark, sf_dir)
    sym = _sym(edges, "brand")
    deg = sym.groupBy("brand", F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    e1 = sym.select("brand", F.col("src").alias("z"), F.col("dst").alias("a"))
    e2 = sym.select("brand", F.col("src").alias("z"), F.col("dst").alias("b"))
    cand = (
        e1.join(e2, ["brand", "z"])
        .filter(F.col("a") < F.col("b"))
        .join(
            edges.select("brand", F.col("src").alias("a"), F.col("dst").alias("b")),
            ["brand", "a", "b"],
            "left_anti",
        )
        .groupBy("brand", "a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        cand.join(deg.select("brand", F.col("node").alias("a"), F.col("d").alias("da")), ["brand", "a"])
        .join(deg.select("brand", F.col("node").alias("b"), F.col("d").alias("db")), ["brand", "b"])
        .select(
            "brand", "a", "b", "n_common",
            qround(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    w = Window.orderBy(F.desc("jaccard"), F.asc("brand"), F.asc("a"), F.asc("b"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 20)


def _bfs_oracle(rounds: int = 4) -> str:
    """Unrolled BFS frontier CTEs (DuckDB twin of the driver-side loop)."""
    # Every CTE is MATERIALIZED: r{i} references r{i-1} twice (join leg +
    # visited union), so inlining would recompute the base frontier 2^i
    # times — at sf0.1 DuckDB spilled ~37 GB doing exactly that before
    # this keyword landed (same lesson as the k-core oracle).
    ctes = [
        _BRAND_EDGES_DUCK,
        """sym AS MATERIALIZED (
    SELECT brand, src, dst FROM edges
    UNION ALL
    SELECT brand, dst, src FROM edges
)""",
        "r0 AS MATERIALIZED (SELECT brand, MIN(src) AS node FROM sym GROUP BY brand)",
    ]
    for i in range(1, rounds + 1):
        prev = " UNION ALL ".join(f"SELECT brand, node FROM r{j}" for j in range(i))
        ctes.append(
            f"""r{i} AS MATERIALIZED (
    SELECT DISTINCT s.brand, s.dst AS node
    FROM sym s JOIN r{i - 1} f ON f.brand = s.brand AND f.node = s.src
    WHERE NOT EXISTS (
        SELECT 1 FROM ({prev}) v WHERE v.brand = s.brand AND v.node = s.dst
    )
)"""
        )
    levels = " UNION ALL ".join(
        f"SELECT brand, node, {i} AS dist FROM r{i}" for i in range(rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT brand, dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM ({levels}) GROUP BY 1, 2
"""
    )


@register("graph_bfs_distance", oracle=_bfs_oracle())
def graph_bfs_distance(spark, sf_dir):
    """Bounded BFS (4 hops) from each brand's minimum node — hop-distance
    histograms, the reachability profile a pipeline computes before
    choosing propagation depths. Pure frontier expansion, the shape that
    scales: each round joins the CURRENT frontier (shrinking) to the edge
    list on the brand+node key, anti-joins the visited set, and
    checkpoints — never materializing all-pairs distances. Visited and
    frontier tables stay keyed by (brand, node), so every round is two
    keyed shuffles; the oracle unrolls the same rounds as CTEs."""
    sym = ckpt(_sym(_brand_edges(spark, sf_dir), "brand"))
    # r13c (guide §5 — materialize only what is re-read; the
    # graph_closeness rule applied here): the old loop eagerly
    # checkpointed the GROWING visited union every round although each
    # frontier piece is already checkpointed — visited now recomposes
    # lazily from the cached pieces, and the final frontier (one
    # consumer: the histogram tail) stays lazy. Net per run: 9
    # materializations → 5 (sym + frontier rounds 0–3; the round-0
    # frontier keeps its ckpt — it has multiple consumers), identical
    # frontier recurrence, bit-identical reach set.
    frontier = ckpt(
        sym.groupBy("brand").agg(F.min("src").alias("node")).withColumn(
            "dist", F.lit(0)
        )
    )
    pieces = [frontier]
    for i in range(1, 5):
        visited = pieces[0].select("brand", "node")
        for p in pieces[1:]:
            visited = visited.unionByName(p.select("brand", "node"))
        nxt = (
            sym.join(
                frontier.select("brand", F.col("node").alias("src")), ["brand", "src"]
            )
            .select("brand", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["brand", "node"], "left_anti")
            .withColumn("dist", F.lit(i))
        )
        frontier = ckpt(nxt) if i < 4 else nxt
        pieces.append(frontier)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.groupBy("brand", "dist").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


@register(
    "graph_modularity",
    oracle=f"""
WITH {_EDGES_DUCK},
bedges AS MATERIALIZED (
    SELECT pa.p_brand AS ba, pb.p_brand AS bb
    FROM edges e
    JOIN part pa ON pa.p_partkey = e.src
    JOIN part pb ON pb.p_partkey = e.dst
),
m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM bedges),
intra AS (
    SELECT ba AS brand, CAST(COUNT(*) AS BIGINT) AS n_intra
    FROM bedges WHERE ba = bb GROUP BY 1
),
degsum AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS deg_sum FROM (
        SELECT ba AS brand FROM bedges
        UNION ALL
        SELECT bb AS brand FROM bedges
    ) GROUP BY 1
)
SELECT d.brand,
       COALESCE(i.n_intra, 0) AS n_intra,
       d.deg_sum,
       FLOOR((COALESCE(i.n_intra, 0) / m.m
              - (d.deg_sum / (2 * m.m)) * (d.deg_sum / (2 * m.m)))
             * 1000000 + 0.5) / 1000000 AS q_contrib
FROM degsum d LEFT JOIN intra i ON i.brand = d.brand, m
""",
)
def graph_modularity(spark, sf_dir):
    """Modularity of the brand partition over the FULL co-purchase graph
    — "are brands real communities?": per brand b, Q_b = m_bb/m −
    (d_b/2m)², the standard Newman decomposition. One pass tags each
    edge with its endpoint brands (two broadcast-able part-dim joins),
    then three bounded aggregates (intra-edge count, degree mass, total
    edges). Everything is integer counts until the final Q expression,
    quantized half-up at 1e-6. Output is O(brands) rows regardless of
    graph size — the 100 TB shape."""
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bedges = ckpt(
        _copurchase_edges(spark, sf_dir)
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("src"), F.col("p_brand").alias("ba"))),
            "src",
        )
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("dst"), F.col("p_brand").alias("bb"))),
            "dst",
        )
        .select("ba", "bb")
    )
    m = bedges.agg(F.count(F.lit(1)).cast("double").alias("m"))
    intra = (
        bedges.filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_intra"))
    )
    degsum = (
        bedges.select(F.col("ba").alias("brand"))
        .unionByName(bedges.select(F.col("bb").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg_sum"))
    )
    half = F.col("deg_sum") / (2 * F.col("m"))
    return (
        degsum.join(intra, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            F.coalesce("n_intra", F.lit(0)).cast("bigint").alias("n_intra"),
            "deg_sum",
            qround(
                F.coalesce("n_intra", F.lit(0)) / F.col("m") - half * half
            ).alias("q_contrib"),
        )
    )


@register(
    "graph_assortativity",
    oracle=f"""
WITH {_EDGES_DUCK},
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
pairs AS (
    SELECT da.d AS dx, db.d AS dy
    FROM sym e JOIN deg da ON da.node = e.src JOIN deg db ON db.node = e.dst
),
sums AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS m,
           CAST(SUM(dx) AS DOUBLE) AS sx, CAST(SUM(dy) AS DOUBLE) AS sy,
           CAST(SUM(dx * dy) AS DOUBLE) AS sxy,
           CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
           CAST(SUM(dy * dy) AS DOUBLE) AS syy
    FROM pairs
)
SELECT CAST(m AS BIGINT) AS n_directed_edges,
       FLOOR((m * sxy - sx * sy)
             / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy))
             * 1000000 + 0.5) / 1000000 AS assortativity
FROM sums
""",
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of endpoint degrees over the symmetrized edge list
    ("do hubs link to hubs?"), the one-number mixing diagnostic read
    before choosing partition/skew strategies for graph joins. All
    moments are exact integer sums in one aggregate over the
    degree-tagged edges (two keyed joins onto the bounded degree
    table); the final correlation is one quantized expression. IEEE
    sqrt is correctly rounded, so both engines emit identical bits."""
    sym = _sym(_copurchase_edges(spark, sf_dir))
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    pairs = sym.join(
        deg.select(F.col("node").alias("src"), F.col("d").alias("dx")), "src"
    ).join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")), "dst")
    sums = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return sums.select(
        F.col("m").cast("bigint").alias("n_directed_edges"),
        qround(num / den).alias("assortativity"),
    )


@register(
    "graph_bipartite_projection",
    oracle="""
WITH cust_part AS (
    SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
proj AS (
    SELECT a.part AS src, b.part AS dst, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM cust_part a JOIN cust_part b ON b.cust = a.cust AND a.part < b.part
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(MAX(n_shared) AS BIGINT) AS max_support,
       CAST(SUM(n_shared) AS BIGINT) AS total_support,
       CAST(COUNT(DISTINCT src) + 0 AS BIGINT) AS n_src_nodes
FROM proj
""",
)
def graph_bipartite_projection(spark, sf_dir):
    """Bipartite projection with support threshold — the OTHER graph
    this warehouse hides: customer↔part ties projected onto parts,
    edges weighted by shared-customer count and kept only at support
    ≥ 2. Distinct from the order-basket co-purchase graph (a customer
    links parts ACROSS orders — the repeat-buyer affinity signal).
    Scale discipline: the projection join is keyed on the customer
    (pair work Σ_c deg(c)², bounded by per-customer basket size, never
    parts²), the distinct bipartite edge list is materialized once, and
    the support threshold prunes the long tail before any downstream
    consumer. Output is the bounded edge-summary profile."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("cust")
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    )
    cp = ckpt(li.join(o, "ok").select("cust", "part").distinct())
    a = cp.select("cust", F.col("part").alias("src"))
    b = cp.select("cust", F.col("part").alias("dst"))
    proj = (
        a.join(b, "cust")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return proj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.max("n_shared").cast("bigint").alias("max_support"),
        F.sum("n_shared").cast("bigint").alias("total_support"),
        F.countDistinct("src").cast("bigint").alias("n_src_nodes"),
    )


def _lpa_oracle(rounds: int = 3) -> str:
    """Unrolled semi-synchronous label-propagation oracle: each round is
    a neighbor-label vote (count per candidate label) resolved by
    (count DESC, label ASC) — integer-exact, so the unrolled CTE chain
    is bit-identical to the driver-side Spark loop."""
    ctes = [
        "l0 AS (SELECT brand, node, node AS lbl FROM "
        "(SELECT DISTINCT brand, src AS node FROM sym))"
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""v{i} AS (
    SELECT e.brand, e.dst AS node, p.lbl, COUNT(*) AS cnt
    FROM sym e JOIN {prev} p ON p.brand = e.brand AND p.node = e.src
    GROUP BY 1, 2, 3
), l{i} AS (
    SELECT brand, node, lbl FROM (
        SELECT brand, node, lbl,
               ROW_NUMBER() OVER (PARTITION BY brand, node
                                  ORDER BY cnt DESC, lbl ASC) AS rn
        FROM v{i}) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {_BRAND_EDGES_DUCK},
sym AS (
    SELECT brand, src, dst FROM edges
    UNION ALL
    SELECT brand, dst, src FROM edges
),
{joined},
comps AS (SELECT brand, lbl, COUNT(*) AS sz FROM {prev} GROUP BY 1, 2)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_communities,
       CAST(SUM(sz) AS BIGINT) AS n_nodes,
       CAST(MAX(sz) AS BIGINT) AS largest_community
FROM comps GROUP BY brand
"""


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark, sf_dir):
    """Community detection by label propagation (3 synchronous rounds)
    over the within-brand co-purchase graph. Each node starts as its own
    community and repeatedly adopts the most frequent label among its
    neighbors (ties to the smallest label — the determinism that makes
    the unrolled SQL oracle bit-identical). Unlike graph_cc's hash-to-min
    (which converges to connectivity), LPA converges toward dense
    substructure — the communities a mixture-balancing or negative-
    sampling step would stratify by. Each round is ONE keyed join (edges
    x labels) + ONE aggregate with `max_by(lbl, struct(cnt, -lbl))`
    resolving the vote without any window sort; per-round checkpoint
    keeps lineage flat. All arithmetic is integer, so cross-engine
    parity is exact. Brand blocking bounds every vote's working set;
    fixed round count (not convergence polling) means zero driver-side
    scalars per round — at 100 TB this is 3 shuffles on the edge table,
    full stop."""
    sym = ckpt(_sym(_brand_edges(spark, sf_dir), "brand"))
    labels = (
        sym.select("brand", F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for rnd in range(3):
        votes = (
            sym.join(
                labels.select("brand", F.col("node").alias("src"), "lbl"),
                ["brand", "src"],
            )
            .groupBy("brand", F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        stepped = votes.groupBy("brand", "node").agg(
            F.expr("max_by(lbl, struct(cnt, -lbl))").alias("lbl")
        )
        # r13c: round 3's labels feed only the community aggregate
        # (single consumer) — lazy; rounds 1–2 keep the lineage-cutting
        # checkpoint feeding the next round's join.
        labels = ckpt(stepped) if rnd < 2 else stepped
    comps = labels.groupBy("brand", "lbl").agg(F.count(F.lit(1)).alias("sz"))
    return comps.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum("sz").cast("bigint").alias("n_nodes"),
        F.max("sz").cast("bigint").alias("largest_community"),
    )


def _hits_oracle(rounds: int = 5) -> str:
    """Unrolled HITS oracle over the order→part bipartite graph.
    Same quantize-then-decimal-sum discipline as PageRank: per-edge
    contributions quantized to 1e-12, sums in DECIMAL(38,12), each
    round's scores renormalized by their decimal-exact total."""
    ctes = [
        "edges AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        "h0 AS (SELECT o, 1.0 AS h FROM (SELECT DISTINCT o FROM edges))",
    ]
    prev_h = "h0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""ar{i} AS MATERIALIZED (
    SELECT e.p,
           CAST(SUM(CAST(FLOOR(hh.h * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12
               AS s
    FROM edges e JOIN {prev_h} hh ON hh.o = e.o GROUP BY e.p
), an{i} AS MATERIALIZED (
    SELECT p, s / t AS a FROM ar{i},
         (SELECT CAST(SUM(CAST(FLOOR(s * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12
              AS t FROM ar{i}) n
), hr{i} AS MATERIALIZED (
    SELECT e.o,
           CAST(SUM(CAST(FLOOR(aa.a * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12
               AS s
    FROM edges e JOIN an{i} aa ON aa.p = e.p GROUP BY e.o
), h{i} AS MATERIALIZED (
    SELECT o, s / t AS h FROM hr{i},
         (SELECT CAST(SUM(CAST(FLOOR(s * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12
              AS t FROM hr{i}) n
)"""
        )
        prev_h = f"h{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT p AS part, ROUND(a * 1000, 6) AS authority_x1000
FROM an{rounds}
ORDER BY a DESC, p ASC LIMIT 20
"""


@register("graph_hits", oracle=_hits_oracle())
def graph_hits(spark, sf_dir):
    """HITS (hubs & authorities, 5 rounds) over the natural BIPARTITE
    graph in the data — orders are hubs, parts are authorities: a part
    matters when important orders carry it, an order matters when it
    carries important parts. Unlike PageRank's symmetrized projection,
    this runs on the raw order→part incidence (no basket self-join at
    all — the edge list IS the lineitem projection, the cheapest graph
    in the repo). Each half-round is one keyed join + one aggregate,
    L1-renormalized so scores stay bounded; per-edge contributions are
    1e-12-quantized into DECIMAL sums and the normalizing total uses
    the same discipline, so both engines iterate on bit-identical
    vectors.

    Checkpoint discipline (two rounds of measurement): the round-7 fix
    moved the materialization from the normalized vector to the RAW
    sums so the L1 total's broadcast subtree reads blocks instead of
    re-deriving the edges⋈scores join; round 8 then FUSED the hub
    half-round into the next round's lineage — only the
    authority-side sums (ar) checkpoint now, 5 materializations per
    run instead of 10. The lazy hub half-round appears twice in the
    next ar job's plan (once under the ht broadcast, once on the main
    path) but its groupBy('o') exchange is structurally identical in
    both, so ReusedExchange executes it once — measured at sf0.1:
    isolated min 9.43 s → 8.15 s, output bit-identical
    (scripts/hits_experiment_r8.py; pre-partitioning edges per join
    side was also tried and does NOT help — AQE already broadcasts
    the node-sized score vectors, so there is no edge shuffle to
    save). Round 1's authority half-round is a DEGREE COUNT, not a
    join: the initial hub vector is all-ones, so the quantized edge
    sum is exactly q12(1.0)·deg(p)/1e12 = deg(p), exact as a double
    below 2^53 — one groupBy over edges replaces the first
    edges⋈scores join bit-identically (experiment: fused 8.17 s →
    fused+degree 7.60 s isolated min). DECLARED DONE in round 9
    after the final allowed experiment (scripts/hits_experiment_r9.py):
    both candidate cuts at the ~2.1 s fixed checkpoint cost — a
    combined (side, node) union materializing both half-rounds per
    checkpoint, and checkpointing only every other round — FAIL with
    broadcast-build OOM at Spark's default 1 GiB driver memory,
    because packing more lazy half-rounds into one job stacks
    concurrent broadcast builds; the shipped 5-checkpoint cadence is
    memory-safe at default driver memory and measured 6.85–7.26 s
    isolated min on an idle guest. The per-round checkpoint is
    load-bearing for driver memory, not just lineage. Output: top-20
    authorities (×1000 for 6-decimal readability), ties on part key."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    edges = ckpt(li.distinct())
    h = None  # round 1 shortcuts the all-ones hub vector to a degree count
    a = None
    for rnd in range(5):
        if rnd == 0:
            ar = ckpt(
                edges.groupBy("p").agg(F.count(F.lit(1)).cast("double").alias("s"))
            )
        else:
            ar = ckpt(edges.join(h, "o").groupBy("p").agg(qsum(F.col("h"), 12).alias("s")))
        a = with_stats(ar, qsum(F.col("s"), 12).alias("t")).select(
            "p", (F.col("s") / F.col("t")).alias("a")
        )
        hr = edges.join(a, "p").groupBy("o").agg(qsum(F.col("a"), 12).alias("s"))  # lazy
        h = with_stats(hr, qsum(F.col("s"), 12).alias("t")).select(
            "o", (F.col("s") / F.col("t")).alias("h")
        )
    return (
        a.orderBy(F.desc("a"), F.asc("p"))
        .limit(20)
        .select(F.col("p").alias("part"), F.round(F.col("a") * 1000, 6).alias("authority_x1000"))
    )


def _hash_walks_oracle(steps: int = 3) -> str:
    """Unrolled deterministic-walk oracle: at each step the walker at
    node `cur` moves to the neighbor minimizing md5(start:step:dst) —
    a hash-seeded uniform choice both engines reproduce exactly."""
    ctes = [
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
)""",
        "w0 AS (SELECT DISTINCT src AS start, src AS cur FROM sym)",
    ]
    prev = "w0"
    for i in range(1, steps + 1):
        ctes.append(
            f"""w{i} AS MATERIALIZED (
    SELECT start, cur FROM (
        SELECT p.start, e.dst AS cur,
               ROW_NUMBER() OVER (
                   PARTITION BY p.start
                   ORDER BY md5(CAST(p.start AS VARCHAR) || ':{i}:' ||
                                CAST(e.dst AS VARCHAR)), e.dst) AS rn
        FROM {prev} p JOIN sym e ON e.src = p.cur)
    WHERE rn = 1
)"""
        )
        prev = f"w{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {_EDGES_DUCK},
{joined}
SELECT w0.start,
       w1.cur AS hop1, w2.cur AS hop2, w3.cur AS hop3
FROM w0
JOIN w1 ON w1.start = w0.start
JOIN w2 ON w2.start = w0.start
JOIN w3 ON w3.start = w0.start
"""


@register("graph_hash_walks", oracle=_hash_walks_oracle())
def graph_hash_walks(spark, sf_dir):
    """Random-walk corpus generation (DeepWalk/node2vec's data step) —
    the graph-embedding pipeline's bulk operation: one walk per start
    node over the co-purchase graph, 3 hops. 'Random' is HASH-SEEDED:
    the walker at `cur` moves to argmin over neighbors of
    md5(start:step:dst) — uniform in distribution across steps, yet
    bit-reproducible on both engines AND on any cluster re-run (walk
    corpora must be reproducible or every embedding retrain shifts).
    Each hop is ONE keyed join frontier⋈edges + one min_by aggregate —
    never materializing the neighbor explosion past the hop, the exact
    shape walk generation runs at 100 TB (per-hop cost = |frontier| ×
    avg degree). The min_by(struct(hash, dst)) vote also breaks hash
    ties deterministically."""
    sym = ckpt(_sym(_copurchase_edges(spark, sf_dir)))
    frontier = sym.select(F.col("src").alias("start")).distinct().withColumn(
        "cur", F.col("start")
    )
    hops = []
    for i in (1, 2, 3):
        nxt = (
            frontier.join(sym, frontier["cur"] == sym["src"])
            .select(
                "start",
                F.col("dst"),
                F.md5(
                    F.concat(
                        F.col("start").cast("string"),
                        F.lit(f":{i}:"),
                        F.col("dst").cast("string"),
                    )
                ).alias("h"),
            )
            .groupBy("start")
            .agg(F.expr("min_by(dst, struct(h, dst))").alias("cur"))
        )
        # r13c: hops 1–2 feed BOTH the next hop's join and the output
        # join (2 consumers — checkpoint); hop 3 feeds only the output
        # join, so it stays lazy (single-consumer rule).
        frontier = ckpt(nxt) if i < 3 else nxt
        hops.append(frontier.select("start", F.col("cur").alias(f"hop{i}")))
    out = hops[0]
    for h in hops[1:]:
        out = out.join(h, "start")
    return out


def _ppr_oracle(iters: int = 8) -> str:
    """Unrolled personalized-PageRank oracle (restart mass to the seed
    set = the 10 lowest part keys; d = 0.85). PageRank's decimal
    discipline throughout; teleport term is seed-conditional."""
    ctes = [
        """edges AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), deg AS MATERIALIZED (
    SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM sym GROUP BY src
), seeds AS MATERIALIZED (
    SELECT node FROM deg ORDER BY node ASC LIMIT 10
), ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM seeds),
p0 AS (
    SELECT d.node, d.outdeg,
           CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.k ELSE 0.0 END AS r
    FROM deg d LEFT JOIN seeds s ON d.node = s.node, ns
)""",
    ]
    prev = "p0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
    SELECT e.dst AS node,
           CAST(SUM(CAST(FLOOR(p.r / p.outdeg * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS insum
    FROM {prev} p JOIN sym e ON e.src = p.node GROUP BY e.dst
), p{i} AS MATERIALIZED (
    SELECT d.node, d.outdeg,
           FLOOR((CASE WHEN s.node IS NOT NULL THEN 0.15 / ns.k ELSE 0.0 END
                  + 0.85 * COALESCE(c.insum, 0.0)) * 1e9 + 0.5) / 1e9 AS r
    FROM deg d
    LEFT JOIN seeds s ON d.node = s.node
    LEFT JOIN c{i} c ON d.node = c.node, ns
)"""
        )
        prev = f"p{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT node AS part, ROUND(r * 1000, 6) AS ppr_x1000
FROM {prev}
WHERE r > 0 ORDER BY r DESC, node ASC LIMIT 20
"""


@register("graph_ppr", oracle=_ppr_oracle())
def graph_ppr(spark, sf_dir):
    """Personalized PageRank (8 rounds, d = 0.85) — the recommendation
    primitive: random walks RESTART to a seed set (here the 10 lowest
    part keys — a 'customer's recent purchases' stand-in), so the
    stationary mass ranks parts by proximity TO THOSE SEEDS, not
    global importance; this is 'people who bought X also buy' as graph
    diffusion (Pixie/GraphSAGE-sampler lineage). Identical round shape
    and decimal discipline as graph_pagerank — per-edge contributions
    quantized 1e-12 into DECIMAL sums, rank re-quantized 1e-9 per
    round, per-round checkpoint — with the teleport term conditional
    on seed membership instead of uniform. Top-20 by PPR mass (zero-
    mass nodes excluded: unreachable from the seeds)."""
    sym = ckpt(_sym(_copurchase_edges(spark, sf_dir)))
    deg = ckpt(
        sym.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("double").alias("outdeg")
        )
    )
    seeds = deg.select("node").orderBy(F.asc("node")).limit(10).withColumn(
        "is_seed", F.lit(1)
    )
    k = seeds.count()  # bounded driver scalar (seed-set size)
    p = deg.join(F.broadcast(seeds), "node", "left").select(
        "node",
        "outdeg",
        F.when(F.col("is_seed") == 1, F.lit(1.0) / k).otherwise(0.0).alias("r"),
    )
    for rnd in range(8):
        # Frontier filter (r13 optimization, guide §2.3: shuffle fewer
        # bytes): zero-mass rows contribute exactly 0 to every insum —
        # q12(0/outdeg) = 0, and a dst whose in-neighbors are all
        # zero-mass gets insum = 0.0 either way (empty-group NULL hits
        # the same coalesce(.., 0.0) as a sum of zeros) — so only the
        # REACHED frontier needs to join the edge table. Round 1 joins
        # the 10 seed rows instead of every node; measured at sf0.1
        # (isolated noop min-of-3): 8.06 s → 7.24 s — modest HERE
        # because this co-purchase graph saturates within ~2 rounds,
        # but at 100 TB with sparse seed sets the early rounds are
        # orders of magnitude smaller than the full vector. Oracle
        # hash unchanged at sf0.001 + sf0.01.
        # Per-NODE contribution pre-quantization (r13c, guide §1.2
        # step 2): q12(r/outdeg) depends only on the source node —
        # computed once per frontier row instead of per edge, the exact
        # same DECIMAL addend crosses every edge, so the decimal sum is
        # bit-identical while the divide/floor/cast chain drops from
        # O(|E_frontier|) to O(|frontier|) per round.
        frontier = p.filter(F.col("r") > 0).select(
            F.col("node").alias("src"),
            qdec(F.col("r") / F.col("outdeg"), 12).alias("c"),
        )
        contrib = (
            frontier.join(sym, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.sum("c").cast("double") / F.lit(1e12)).alias("insum"))
        )
        p = (
            deg.join(F.broadcast(seeds), "node", "left")
            .join(contrib, "node", "left")
            .select(
                "node",
                "outdeg",
                qround(
                    F.when(F.col("is_seed") == 1, F.lit(0.15) / k).otherwise(0.0)
                    + F.lit(0.85) * F.coalesce("insum", F.lit(0.0)),
                    9,
                ).alias("r"),
            )
        )
        # Final round stays lazy (r13c): its only consumer is the
        # top-20 tail, evaluated exactly once — the graph_closeness
        # single-consumer rule.
        if rnd < 7:
            p = ckpt(p)
    return (
        p.filter(F.col("r") > 0)
        .orderBy(F.desc("r"), F.asc("node"))
        .limit(20)
        .select(F.col("node").alias("part"), F.round(F.col("r") * 1000, 6).alias("ppr_x1000"))
    )


def _closeness_oracle(rounds: int = 3) -> str:
    """Unrolled MULTI-SOURCE BFS CTEs (DuckDB twin of the driver loop):
    same frontier/visited recurrence as :func:`_bfs_oracle` but seeded
    from EVERY node, carrying (brand, seed, node) instead of
    (brand, node)."""
    ctes = [
        _BRAND_EDGES_DUCK,
        """sym AS MATERIALIZED (
    SELECT brand, src, dst FROM edges
    UNION ALL
    SELECT brand, dst, src FROM edges
)""",
        "r0 AS MATERIALIZED (SELECT DISTINCT brand, src AS seed, src AS node FROM sym)",
    ]
    for i in range(1, rounds + 1):
        prev = " UNION ALL ".join(
            f"SELECT brand, seed, node FROM r{j}" for j in range(i)
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
    SELECT DISTINCT s.brand, f.seed, s.dst AS node
    FROM sym s JOIN r{i - 1} f ON f.brand = s.brand AND f.node = s.src
    WHERE NOT EXISTS (
        SELECT 1 FROM ({prev}) v
        WHERE v.brand = s.brand AND v.seed = f.seed AND v.node = s.dst
    )
)"""
        )
    levels = " UNION ALL ".join(
        f"SELECT brand, seed, {i} AS dist FROM r{i}" for i in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """,
counts AS (
    SELECT brand, seed,
           CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop1,
           CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop2,
           CAST(SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop3
    FROM ("""
        + levels
        + """) GROUP BY 1, 2
), scored AS (
    SELECT brand, seed AS part, n_hop1, n_hop2, n_hop3,
           FLOOR((CAST(n_hop1 AS DOUBLE) + 0.5 * n_hop2 + n_hop3 / 3.0)
                 * 1000000 + 0.5) / 1000000 AS harmonic
    FROM counts
)
SELECT brand, part, n_hop1, n_hop2, n_hop3, harmonic,
       CAST(ROW_NUMBER() OVER (ORDER BY harmonic DESC, brand, part)
            AS BIGINT) AS rank
FROM scored
ORDER BY rank LIMIT 20
"""
    )


@register("graph_closeness", oracle=_closeness_oracle())
def graph_closeness(spark, sf_dir):
    """Bounded-hop harmonic closeness centrality — for every node of the
    within-brand co-purchase graph, sum of 1/dist over the nodes within
    3 hops (harmonic form, so disconnected pairs contribute 0 instead of
    breaking the mean — Boldi & Vigna's axiomatically-preferred variant,
    truncated at the hop radius the way HyperBall truncates its
    sketches). The scalable shape is MULTI-SOURCE BFS: one frontier
    table keyed (brand, seed, node) expands all sources simultaneously —
    each round is ONE keyed join against the edge list plus one
    anti-join against the visited set, never an all-pairs distance
    matrix, and the brand blocking bounds every neighborhood. The
    centrality itself is computed from the INTEGER per-distance counts
    (n1 + n2/2 + n3/3 in one fixed-order double expression), so the only
    float op happens once per node on exact integer inputs — no
    accumulation-order hazard. Output: top-20 most central parts,
    deterministic total order (score desc, brand, part)."""
    sym = ckpt(_sym(_brand_edges(spark, sf_dir), "brand"))
    r0 = sym.select("brand", F.col("src").alias("seed"), F.col("src").alias("node")).distinct()
    # r13b (guide §5 — materialize only what is re-read): the old loop
    # eagerly checkpointed the GROWING visited union every round (115k /
    # 559k / 2.4M rows at sf0.1) although each constituent frontier is
    # already checkpointed — the union is cheap to recompose lazily from
    # the cached pieces, and the round-3 union was built after the last
    # frontier and never consumed at all. The final frontier likewise
    # has exactly ONE consumer (the scoring tail), so it stays lazy.
    # Net: 7 materializations -> 3 (sym + frontier rounds 1-2), same
    # joins, bit-identical reach set. Isolated noop min-of-3 at sf0.1:
    # 9.76 s -> see OPTIMIZATION_r13.md.
    frontier = ckpt(r0)
    pieces = [frontier]
    per_dist = []
    for i in range(1, 4):
        visited = pieces[0]
        for p in pieces[1:]:
            visited = visited.unionByName(p)
        nxt = (
            sym.join(
                frontier.select("brand", "seed", F.col("node").alias("src")),
                ["brand", "src"],
            )
            .select("brand", "seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["brand", "seed", "node"], "left_anti")
        )
        frontier = ckpt(nxt) if i < 3 else nxt
        pieces.append(frontier)
        per_dist.append(frontier.withColumn("dist", F.lit(i)))
    reach = per_dist[0].unionByName(per_dist[1]).unionByName(per_dist[2])
    counts = reach.groupBy("brand", F.col("seed").alias("part")).agg(
        *[
            F.sum(F.when(F.col("dist") == d, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_hop{d}")
            for d in (1, 2, 3)
        ]
    )
    harmonic = qround(
        F.col("n_hop1").cast("double") + 0.5 * F.col("n_hop2") + F.col("n_hop3") / F.lit(3.0)
    )
    w = Window.orderBy(F.desc("harmonic"), F.asc("brand"), F.asc("part"))
    return (
        counts.withColumn("harmonic", harmonic)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


@register(
    "graph_rich_club",
    oracle=f"""
WITH {_EDGES_DUCK},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), deg AS MATERIALIZED (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1
), ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
club AS (
    SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_k
    FROM ks JOIN deg ON deg.d > ks.k GROUP BY 1
), club_edges AS (
    SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
    FROM ks, edges e
    JOIN deg da ON da.node = e.src
    JOIN deg db ON db.node = e.dst
    WHERE da.d > ks.k AND db.d > ks.k
    GROUP BY 1
)
SELECT c.k, c.n_k, COALESCE(ce.e_k, 0) AS e_k,
       FLOOR(2.0 * COALESCE(ce.e_k, 0)
             / (CAST(c.n_k AS DOUBLE) * (c.n_k - 1)) * 1000000 + 0.5) / 1000000
           AS phi
FROM club c LEFT JOIN club_edges ce ON ce.k = c.k
WHERE c.n_k >= 2
""",
)
def graph_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) of the co-purchase graph — 'do the
    hubs preferentially trade with each other?': among nodes of degree
    > k, the realized fraction of possible edges (Colizza 2006). A
    rising phi(k) is the hub-oligarchy signature that degree
    distributions alone can't see; for a product graph it reveals
    whether bestsellers form a clique (bundle-prone catalog) or spokes
    (variety-seeking). Exact integers end to end: degrees from one
    symmetrized aggregate, club edges from the edge list joined twice
    against the BROADCAST degree table, phi's division the only float.
    The k-grid {{2,4,8,16}} rides one broadcast spine — four club
    sizes from one pass."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = ckpt(
        _sym(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ks = spark.range(1, 5).select(
        F.pow(F.lit(2.0), F.col("id")).cast("bigint").alias("k")
    )
    club = (
        ks.join(deg, deg["d"] > ks["k"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_k"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("db"))
    tagged = edges.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
    club_edges = (
        tagged.crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_k"))
    )
    return (
        club.join(club_edges, "k", "left")
        .filter(F.col("n_k") >= 2)
        .select(
            "k",
            "n_k",
            F.coalesce("e_k", F.lit(0)).cast("bigint").alias("e_k"),
            qround(
                F.lit(2.0)
                * F.coalesce("e_k", F.lit(0))
                / (F.col("n_k").cast("double") * (F.col("n_k") - 1))
            ).alias("phi"),
        )
    )


@register(
    "graph_degree_gini",
    oracle=f"""
WITH {_EDGES_DUCK},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1
), ranked AS (
    SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY d, node) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n,
           CAST(SUM(d) OVER () AS BIGINT) AS sd
    FROM deg
), terms AS (
    SELECT n, sd, (2 * rn - n - 1) * d AS term FROM ranked
)
SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n_nodes,
       CAST(ANY_VALUE(sd) AS BIGINT) // 2 AS n_edges,
       FLOOR(CAST(ANY_VALUE(sd) AS DOUBLE) / ANY_VALUE(n) * 1000000 + 0.5)
           / 1000000 AS mean_degree,
       FLOOR(CAST(SUM(term) AS DOUBLE)
             / (CAST(ANY_VALUE(n) AS DOUBLE) * ANY_VALUE(sd))
             * 1000000 + 0.5) / 1000000 AS degree_gini
FROM terms
""",
)
def graph_degree_gini(spark, sf_dir):
    """Gini coefficient of the co-purchase degree distribution — the
    single-number hub-concentration summary that complements
    graph_rich_club (phi asks 'do hubs cluster together?'; this asks
    'how unequal is connectivity at all?'): a near-0 Gini means
    commodity-like uniform co-purchase; high Gini means a few anchor
    products carry the graph — which is what decides whether
    hub-removal (stockout of an anchor) is an existential risk. The
    exact integer rank identity sum((2i-n-1)d_i)/(n*total) — the same
    spelling as scan_partition_skew_audit's Gini — keeps everything
    integer until two final divisions. One degree aggregate + one
    rank."""
    deg = (
        _sym(_copurchase_edges(spark, sf_dir))
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ranked = deg.select(
        "d",
        F.row_number().over(Window.orderBy("d", "node")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
        F.sum("d").over(Window.partitionBy()).cast("bigint").alias("sd"),
    )
    terms = ranked.select(
        "n",
        "sd",
        ((2 * F.col("rn") - F.col("n") - 1) * F.col("d")).alias("term"),
    )
    return terms.agg(
        F.any_value("n").cast("bigint").alias("n_nodes"),
        (F.any_value("sd") / 2).cast("bigint").alias("n_edges"),
        qround(F.any_value("sd").cast("double") / F.any_value("n")).alias("mean_degree"),
        qround(
            F.sum("term").cast("double")
            / (F.any_value("n").cast("double") * F.any_value("sd"))
        ).alias("degree_gini"),
    )
