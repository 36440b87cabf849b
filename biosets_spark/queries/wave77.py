"""Seventy-seventh-wave query inventory: leaderboard stability — the
supplier revenue RANK-CHURN table (each supplier's revenue rank in
the early vs late half of the ship-date range, top movers by rank
change: the 'who rose, who fell' table every periodic business
review starts from) and the KENDALL RANKING DISTANCE between the two
half-period rankings (the normalized discordant-pair fraction: one
scalar for 'how much did the leaderboard reshuffle', with tau near 1
meaning a stable market and near 0 a lottery — the longitudinal twin
of q_kendall_tau's cross-metric association).

Determinism discipline: revenues are exact DECIMAL cents sums; the
period split is the exact integer midpoint year (FLOOR on both
engines); ranks order by (revenue DESC, suppkey) so ties are
deterministic; the pair comparison is a bounded supplier-pair
self-join with pure integer concordance counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from .. import tables
from ..operators.joins import pin_intermediate
from . import dfloor, q

_HALVES_SQL = """
    WITH yr AS (
      SELECT CAST(FLOOR((MIN(EXTRACT(year FROM l_shipdate))
                         + MAX(EXTRACT(year FROM l_shipdate))) / 2.0)
                  AS BIGINT) AS midyear
      FROM lineitem
    ), rev AS (
      SELECT l_suppkey AS suppkey,
             (EXTRACT(year FROM l_shipdate) <= y.midyear) AS early,
             SUM(CAST(FLOOR((l_extendedprice * 100) + 0.5) AS BIGINT)) AS cents
      FROM lineitem, yr y
      GROUP BY 1, 2
    ), ranked AS (
      SELECT suppkey, early, cents,
             ROW_NUMBER() OVER (PARTITION BY early
                                ORDER BY cents DESC, suppkey) AS rnk
      FROM rev
    ), both_ AS (
      SELECT a.suppkey, a.rnk AS rank_early, b.rnk AS rank_late
      FROM ranked a JOIN ranked b
        ON a.suppkey = b.suppkey AND a.early AND NOT b.early
    )
"""


@q(
    "q_rank_churn",
    oracle=_HALVES_SQL + """
    SELECT s.s_name, b.suppkey,
           CAST(b.rank_early AS BIGINT) AS rank_early,
           CAST(b.rank_late AS BIGINT) AS rank_late,
           CAST(b.rank_late - b.rank_early AS BIGINT) AS rank_change
    FROM both_ b JOIN supplier s ON b.suppkey = s.s_suppkey
    ORDER BY ABS(b.rank_late - b.rank_early) DESC, b.suppkey
    LIMIT 10
    """,
    desc="Supplier revenue rank churn: each supplier's revenue rank "
         "inside the early vs late half of the ship-date range "
         "(split at the exact FLOOR-midpoint year), top-10 movers by "
         "absolute rank change — the rise-and-fall table every "
         "periodic review opens with, and the per-entity detail "
         "behind q_kendall_rankings' single stability scalar. "
         "Revenues are exact integer-cent sums; ranks order by "
         "(revenue DESC, suppkey) so ties break identically; the "
         "rank windows partition by period half over the small "
         "supplier-period table (the fact table collapses first); "
         "supplier names broadcast-join in.",
    tags=["window", "join", "agg", "cross"],
)
def q_rank_churn(spark, sf_dir):
    from pyspark.sql import Window

    li = tables.load(spark, sf_dir, "lineitem")
    sup = tables.load(spark, sf_dir, "supplier")
    yr = F.year(col("l_shipdate"))
    mid = li.agg(
        dfloor((F.min(yr) + F.max(yr)) / 2).cast("long").alias("midyear")
    )
    rev = (
        li.crossJoin(broadcast(mid))
        .groupBy(
            col("l_suppkey").alias("suppkey"),
            (yr <= col("midyear")).alias("early"),
        )
        .agg(
            F.sum(dfloor((col("l_extendedprice") * 100) + F.lit(0.5)).cast("long"))
            .alias("cents")
        )
    )
    w = Window.partitionBy("early").orderBy(col("cents").desc(), "suppkey")
    ranked = rev.withColumn("rnk", F.row_number().over(w))
    a = ranked.filter(col("early")).select(
        "suppkey", col("rnk").alias("rank_early")
    )
    b = ranked.filter(~col("early")).select(
        col("suppkey").alias("sk2"), col("rnk").alias("rank_late")
    )
    both = a.join(b, col("suppkey") == col("sk2"))
    return (
        both.join(
            broadcast(sup.select("s_suppkey", "s_name")),
            col("suppkey") == col("s_suppkey"),
        )
        .select(
            "s_name", "suppkey",
            col("rank_early").cast("long").alias("rank_early"),
            col("rank_late").cast("long").alias("rank_late"),
            (col("rank_late") - col("rank_early")).cast("long")
            .alias("rank_change"),
        )
        .orderBy(
            F.abs(col("rank_late") - col("rank_early")).desc(), "suppkey"
        )
        .limit(10)
    )


@q(
    "q_kendall_rankings",
    oracle=_HALVES_SQL + """
    , pairs AS (
      SELECT CASE WHEN (a.rank_early - b.rank_early)
                       * (a.rank_late - b.rank_late) > 0
                  THEN 1 ELSE 0 END AS c
      FROM both_ a JOIN both_ b ON a.suppkey < b.suppkey
    )
    SELECT CAST((SELECT COUNT(*) FROM both_) AS BIGINT) AS n_suppliers,
           CAST(SUM(c) AS BIGINT) AS concordant,
           CAST(COUNT(*) - SUM(c) AS BIGINT) AS discordant,
           ((2.0 * SUM(c) - COUNT(*)) / COUNT(*)) AS kendall_tau,
           (CAST(COUNT(*) - SUM(c) AS DOUBLE) / COUNT(*))
             AS churn_fraction
    FROM pairs
    """,
    desc="Kendall distance between the early-half and late-half "
         "supplier revenue rankings: the fraction of supplier pairs "
         "whose relative order FLIPPED between periods (and the "
         "corresponding tau) — one scalar for 'how much did the "
         "leaderboard reshuffle', the longitudinal stability measure "
         "behind q_rank_churn's per-supplier movers (tau near 1 = "
         "entrenched market, near 0 = lottery). Ranks are the same "
         "deterministic (revenue DESC, suppkey) row numbers; since "
         "both rankings are strict permutations no tie correction "
         "is needed and concordance is a pure integer sign test "
         "over the bounded C(n_suppliers,2) pair join of the tiny "
         "rank table.",
    tags=["stats", "window", "join", "agg", "cross"],
)
def q_kendall_rankings(spark, sf_dir):
    from pyspark.sql import Window

    li = tables.load(spark, sf_dir, "lineitem")
    yr = F.year(col("l_shipdate"))
    mid = li.agg(
        dfloor((F.min(yr) + F.max(yr)) / 2).cast("long").alias("midyear")
    )
    rev = (
        li.crossJoin(broadcast(mid))
        .groupBy(
            col("l_suppkey").alias("suppkey"),
            (yr <= col("midyear")).alias("early"),
        )
        .agg(
            F.sum(dfloor((col("l_extendedprice") * 100) + F.lit(0.5)).cast("long"))
            .alias("cents")
        )
    )
    w = Window.partitionBy("early").orderBy(col("cents").desc(), "suppkey")
    ranked = rev.withColumn("rnk", F.row_number().over(w))
    a = ranked.filter(col("early")).select(
        "suppkey", col("rnk").alias("rank_early")
    )
    b = ranked.filter(~col("early")).select(
        col("suppkey").alias("sk2"), col("rnk").alias("rank_late")
    )
    both = a.join(b, col("suppkey") == col("sk2")).select(
        "suppkey", "rank_early", "rank_late"
    )
    # Three consumers fan out over this bounded rank table (pa, the
    # broadcast pb, and the n_suppliers aggregate), and each one
    # re-derives the lineitem scan + midyear broadcast + revenue
    # aggregate + window — Catalyst does not unify the aliased
    # branches. Truncate the lineage once: the rank table is
    # dimension-sized, so the checkpoint's build-time toRdd
    # materializes it serially and every consumer then reads a tiny
    # ExistingRDD. The r12 lazy-.cache() pin was re-adjudicated in the
    # cold one-shot regime a bench pass pays (clearCache between reps,
    # 3 alternating rounds x 4 variants): ckpt 1.66/1.38 s beats
    # unpinned 2.03/1.55, prefilled cache 2.57/2.07, and the racing
    # cache 2.96/2.01 (the broadcast-build jobs race the probe side's
    # cold cache materialization — the wave49 lesson). Safe here
    # because the frame never escapes the query: no post-release
    # re-materialization can hit the truncated lineage.
    both = pin_intermediate(both.localCheckpoint(eager=False))
    pa, pb = both.alias("pa"), both.alias("pb")
    conc = (
        F.when(
            (col("pa.rank_early") - col("pb.rank_early"))
            * (col("pa.rank_late") - col("pb.rank_late")) > 0, 1
        ).otherwise(0)
    )
    # broadcast one side: the rank table is dimension-sized, and the
    # declared BNLJ (tagged cross) replaces the CartesianProduct plan
    # the bare theta join would produce
    pairs = pa.join(
        F.broadcast(pb), col("pa.suppkey") < col("pb.suppkey")
    ).select(conc.alias("c"))
    n_sup = both.agg(F.count("*").alias("n_suppliers"))
    agg = pairs.agg(
        F.sum("c").alias("nc"), F.count("*").alias("np")
    ).crossJoin(broadcast(n_sup))
    return agg.select(
        col("n_suppliers").cast("long").alias("n_suppliers"),
        col("nc").cast("long").alias("concordant"),
        (col("np") - col("nc")).cast("long").alias("discordant"),
        ((2.0 * col("nc") - col("np")).cast("double") / col("np")).alias("kendall_tau"),
        ((col("np") - col("nc")).cast("double") / col("np")).alias("churn_fraction"),
    )
