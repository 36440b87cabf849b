"""Forty-ninth-wave query inventory: graph-structure closure on the
part co-purchase graph (q_triangle_count's edge set) — degree
ASSORTATIVITY (do high-degree hubs link to hubs or to leaves? the
Newman coefficient that separates social-like from internet-like
topology, and predicts whether hub removal shatters the graph) and
the POWER-LAW exponent of the degree distribution (the Hill/MLE
alpha that says whether degrees are scale-free and how heavy the hub
tail is — alpha <= 2 means the mean degree itself is unstable).

Determinism discipline: degrees are exact integers from the same
support->=2 edge list as q_triangle_count; assortativity moments
accumulate as DECIMAL(38,0) over integer degree pairs; each ln term
of the MLE quantizes the 1e-12 grid ->DECIMAL before the order-free sum.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from .. import tables
from ..operators.joins import pin_intermediate
from . import dfloor, pair_expand, q

_EDGE_SQL = """
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      edge AS (
        SELECT a.l_partkey AS x, b.l_partkey AS y
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2
      )
"""


def _edges(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    # basket-local edge generation (the q_basket_pairs plan): one
    # shuffle collects each order's sorted distinct item set, C(k,2)
    # ordered pairs explode JVM-side — no fact-fact self-join
    baskets = li.select("l_orderkey", "l_partkey").groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    edge = (
        pair_expand(baskets, "items", "x", "y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("w"))
        .filter(col("w") >= 2)
        .select("x", "y")
    )
    # Both consumers below fan out over this subtree (the degree union
    # reads it twice, assortativity's moment join a third time) and
    # Catalyst does not unify the aliased branches into a
    # ReusedExchange — truncate the lineage once, the same lever as
    # q_triangle_count (queries/wave21.py). A lazy .cache() pin was
    # tried (r12) and REVERTED after one-shot A/Bs (3 alternating
    # rounds x 2 scripts, both orderings, clearCache between reps):
    # the checkpoint pays toRdd at build (~1.2-2.7 s) but its
    # consumers then read a materialized RDD, while the cache's COLD
    # collect materializes under RACING consumers (the degree union's
    # two branches plus assortativity's two broadcast-build jobs all
    # compute the uncached subtree concurrently, serialized per-block
    # by the BlockManager write locks — the q_triangle_count failure
    # mode): assortativity one-shot ckpt 2.0-2.9 s vs cache 3.4-3.8 s
    # (and 3.60-4.05 across six full-bench runs vs 1.71 committed with
    # the checkpoint); powerlaw one-shot ckpt 1.7-3.7 vs cache 3.4-7.9.
    # The cache's apparent warm-rep win was an artifact of reps reading
    # the already-filled cache — the bench regime pays cold, once.
    return pin_intermediate(edge.localCheckpoint(eager=False))


@q(
    "q_graph_assortativity",
    oracle=_EDGE_SQL + """
    , deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT x AS v FROM edge UNION ALL SELECT y AS v FROM edge
      ) GROUP BY v
    ), mom AS (
      -- stub symmetry folded into one edge pass: over the 2E directed
      -- stubs, n = 2E, sum(da) = sum(da+db), sum(da^2) = sum(da^2+db^2),
      -- sum(da*db) = 2*sum(da*db)
      SELECT 2 * COUNT(*) AS n,
             CAST(SUM(CAST(dx.d AS DECIMAL(38,0)) + dy.d) AS DOUBLE) AS sa,
             CAST(SUM(CAST(dx.d AS DECIMAL(38,0)) * dx.d
                      + CAST(dy.d AS DECIMAL(38,0)) * dy.d) AS DOUBLE)
               AS saa,
             CAST(SUM(2 * CAST(dx.d AS DECIMAL(38,0)) * dy.d) AS DOUBLE)
               AS sab
      FROM edge e JOIN deg dx ON e.x = dx.v JOIN deg dy ON e.y = dy.v
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           ((n * sab - sa * sa) / (n * saa - sa * sa))
             AS assortativity
    FROM mom
    """,
    desc="Degree assortativity (Newman's r) of the co-purchase graph: "
         "the Pearson correlation of endpoint degrees over edge "
         "stubs — positive means hubs preferentially link to hubs "
         "(social-like; robust to random failure, fragile to "
         "targeted hub removal), negative means hub-and-spoke "
         "(internet-like). Both stub orientations are emitted so the "
         "symmetric formula needs only three moment sums "
         "(DECIMAL(38,0) over exact integer degrees); r is one "
         "closed-form double. Edge list and degrees are exactly "
         "q_triangle_count's (support >= 2 bounds the join); the "
         "degree join is a broadcast of the tiny degree table.",
    tags=["graph", "join", "agg"],
)
def q_graph_assortativity(spark, sf_dir):
    edge = _edges(spark, sf_dir)
    deg = (
        edge.select(col("x").alias("v"))
        .unionAll(edge.select(col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dx = deg.select(col("v").alias("vx"), col("d").alias("da"))
    dy = deg.select(col("v").alias("vy"), col("d").alias("db"))
    joined = (
        edge.join(broadcast(dx), col("x") == col("vx"))
        .join(broadcast(dy), col("y") == col("vy"))
        .select("da", "db")
    )
    # stub symmetry folded into one edge pass (no union of the whole
    # pipeline): n = 2E, sa = sum(da+db), saa = sum(da^2+db^2),
    # sab = 2*sum(da*db)
    d38 = "decimal(38,0)"
    mom = joined.agg(
        (2 * F.count("*")).alias("n"),
        F.sum(col("da").cast(d38) + col("db")).cast("double").alias("sa"),
        F.sum(col("da").cast(d38) * col("da")
              + col("db").cast(d38) * col("db")).cast("double").alias("saa"),
        F.sum(2 * col("da").cast(d38) * col("db")).cast("double")
        .alias("sab"),
    )
    n = col("n").cast("double")
    return mom.select(
        (col("n") / 2).cast("long").alias("n_edges"),
        ((n * col("sab") - col("sa") * col("sa"))
            / (n * col("saa") - col("sa") * col("sa"))).alias("assortativity"),
    )


@q(
    "q_powerlaw_alpha",
    oracle=_EDGE_SQL + """
    , deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT x AS v FROM edge UNION ALL SELECT y AS v FROM edge
      ) GROUP BY v
    ), terms AS (
      SELECT d,
             CAST(FLOOR((LN(CAST(d AS DOUBLE) / 0.5)) * 1e12 + 0.5) / 1e12 AS DECIMAL(38,12))
               AS lt
      FROM deg
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           (1 + COUNT(*) / CAST(SUM(lt) AS DOUBLE)) AS alpha_mle,
           (1.0 * (1 + COUNT(*) / CAST(SUM(lt) AS DOUBLE) - 1)
                 / SQRT(COUNT(*))) AS alpha_se
    FROM terms
    """,
    desc="Power-law (Hill/MLE) exponent of the co-purchase degree "
         "distribution with dmin=1 (the continuous-approximation "
         "ln(d/(dmin-0.5)) correction): alpha ~ 2-3 is classic "
         "scale-free, alpha <= 2 means the hub tail is so heavy the "
         "mean degree is unstable — the number that decides whether "
         "degree-based load balancing (salting hubs, capping "
         "fan-out) is needed before any graph join at scale. Each "
         "ln term quantizes the 1e-12 grid ->DECIMAL before the "
         "order-free sum; alpha and its standard error "
         "(alpha-1)/sqrt(n) are closed-form doubles over exact "
         "integer counts.",
    tags=["graph", "agg"],
)
def q_powerlaw_alpha(spark, sf_dir):
    edge = _edges(spark, sf_dir)
    deg = (
        edge.select(col("x").alias("v"))
        .unionAll(edge.select(col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    terms = deg.select(
        "d",
        (dfloor((F.log(col("d").cast("double") / 0.5)) * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12))
        .cast("decimal(38,12)").alias("lt"),
    )
    alpha = 1 + F.count("*") / F.sum("lt").cast("double")
    return terms.agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.max("d").cast("long").alias("max_degree"),
        (alpha).alias("alpha_mle"),
        ((alpha - 1) / F.sqrt(F.count("*"))).alias("alpha_se"),
    )
