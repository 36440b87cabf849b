"""Twenty-sixth-wave query inventory: distributed linear algebra over
the long (sample, dim, value) layout — the Pearson correlation matrix
of embedding dimensions and the top principal direction via power
iteration on the centered second-moment (covariance) matrix.

These are the matrix-free shapes a feature-engineering pass runs at
corpus scale: the covariance build is one self-join keyed on the
sample id (64x64 fan-out per vector, combinable sums), after which
every power sweep is a join-agg over the 4096-entry matrix — constant
cost regardless of corpus size (the q_pagerank_nations pattern with a
dense matrix in place of a sparse edge list).

Determinism discipline (queries.py header, tightened to the
TIE-SAFE variant after a ROUND-boundary mismatch surfaced in testing):
every ROUND here is an IDENTITY on its input's exact decimal width —
components and means are 6-dec so centered values are exact 6-dec
differences; products of 6-dec values are exact 12-dec, captured by a
DECIMAL(38,12) cast; scatter-matrix cells are exact decimal sums (no
division, which would reintroduce unbounded decimals); only the
power-iterate's normalization rounds a genuinely irrational value
(10-dec, where a decimal tie has measure zero), and it is never
re-rounded at a second boundary.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from .. import tables
from ..operators.joins import pin_intermediate
from . import dfloor, q

# Shared SQL prelude: centered 6-dec components of the first K dims.
_CENTERED_SQL = """
      WITH comps AS (
        SELECT vec_id, pos, comp FROM (
          SELECT vec_id, generate_subscripts(vec, 1) AS pos, unnest(vec) AS comp
          FROM (SELECT vec_id,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> FLOOR((x) * 1e6 + 0.5) / 1e6) AS vec
                FROM embeddings)
        ) WHERE pos <= {k}
      ), means AS (
        SELECT pos,
               FLOOR(CAST(SUM(CAST(comp AS DECIMAL(18,8))) AS DOUBLE)
                     / COUNT(*) * 1e6 + 0.5) / 1e6 AS m
        FROM comps GROUP BY pos
      ), centered AS (
        SELECT c.vec_id, c.pos, FLOOR((c.comp - m.m) * 1e6 + 0.5) / 1e6 AS x
        FROM comps c JOIN means m ON c.pos = m.pos
      )
"""


@q(
    "q_feature_correlation",
    oracle=_CENTERED_SQL.format(k=8) + """
    , prods AS (
      SELECT a.pos AS i, b.pos AS j,
             COUNT(*) AS n,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM centered a JOIN centered b
        ON a.vec_id = b.vec_id AND a.pos <= b.pos
      GROUP BY a.pos, b.pos
    )
    SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
           (p.sxy / SQRT(di.sxy * dj.sxy)) AS corr
    FROM prods p
    JOIN prods di ON di.i = p.i AND di.j = p.i
    JOIN prods dj ON dj.i = p.j AND dj.j = p.j
    ORDER BY i, j
    """,
    desc="Pearson correlation matrix of the first 8 embedding "
         "dimensions (upper triangle): the redundancy screen a "
         "feature audit runs before dimensionality reduction. "
         "Matrix-free: components centered against broadcast per-dim "
         "means, one self-join on the sample id (fan-out k^2 per "
         "sample, combinable product sums — the shuffle carries "
         "(i, j, partial sums), never vectors), then each cell "
         "normalized by the diagonal. Products of 6-dec centered "
         "values are exact 12-dec decimals (decimal-cast, no lossy "
         "round); diagonals reuse the same cells so corr(i,i) is "
         "exactly 1.",
    tags=["vector", "join", "agg", "omics"],
)
def q_feature_correlation(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.slice("embedding", 1, 8),
                    lambda x: (dfloor((x.cast("double")) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))).alias("vec"),
    )
    comps = emb.select("vec_id", F.posexplode("vec").alias("pos", "comp")) \
        .withColumn("pos", col("pos") + 1)
    means = comps.groupBy("pos").agg(
        # engine-identical grid: FLOOR(mean*1e6 + 0.5)/1e6 — a plain
        # ROUND of this derived quotient can land on a half boundary
        # where the engines' rounding modes disagree (r9)
        (F.floor(
            F.sum(col("comp").cast("decimal(18,8)")).cast("double")
            / F.count("*") * lit(1e6) + lit(0.5)
        ) / lit(1e6)).alias("m")
    )
    centered = comps.join(broadcast(means), "pos").select(
        "vec_id", "pos", (dfloor((col("comp") - col("m")) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("x")
    )
    a = centered.select(col("vec_id").alias("va"), col("pos").alias("i"), col("x").alias("xa"))
    b = centered.select(col("vec_id").alias("vb"), col("pos").alias("j"), col("x").alias("xb"))
    prods = (
        a.join(b, (col("va") == col("vb")) & (col("i") <= col("j")))
        .groupBy("i", "j")
        .agg(
            F.sum((col("xa") * col("xb")).cast("decimal(38,12)"))
            .cast("double").alias("sxy")
        )
    )
    di = prods.filter(col("i") == col("j")).select(
        col("i").alias("di"), col("sxy").alias("sxx"))
    dj = prods.filter(col("i") == col("j")).select(
        col("j").alias("dj"), col("sxy").alias("syy"))
    return (
        prods.join(broadcast(di), col("i") == col("di"))
        .join(broadcast(dj), col("j") == col("dj"))
        .select(
            col("i").cast("int").alias("i"), col("j").cast("int").alias("j"),
            (col("sxy") / F.sqrt(col("sxx") * col("syy"))).alias("corr"),
        )
        .orderBy("i", "j")
    )


# One power sweep as SQL: u = M v (matvec terms quantized onto the
# engine-identical FLOOR(x*1e12 + 0.5) integer grid, decimal-summed),
# then v = FLOOR(u/linf * 1e10 + 0.5) / 1e10 with the L-inf norm as a
# 1-row broadcast — pure shared-IEEE ops, so both engines walk the
# bit-identical trajectory with NO rounding-mode tie anywhere (r9:
# retired the the 1e-10 grid that produced the degenerate-corpus
# known-fail). Starting vector is all 1/8 (unit L2 for 64 dims).
_SWEEP_SQL = """
      {out}_u AS (
        SELECT m.i AS pos,
               CAST(SUM(CAST(FLOOR(m.c * {vin}.v * 1e12 + 0.5)
                             AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS u
        FROM cov m JOIN {vin} ON m.j = {vin}.pos
        GROUP BY m.i
      ), {out}_n AS (SELECT MAX(ABS(u)) AS linf FROM {out}_u),
      {out} AS (
        SELECT pos, FLOOR(u / linf * 1e10 + 0.5) / 1e10 AS v
        FROM {out}_u, {out}_n
      )
"""


@q(
    "q_pca_power",
    oracle=_CENTERED_SQL.format(k=64) + """
    , ints AS (
      SELECT vec_id, pos, CAST(FLOOR((x * 1000000) + 0.5) AS BIGINT) AS xi
      FROM centered
    ), cov AS (
      SELECT a.pos AS i, b.pos AS j,
             CAST(SUM(a.xi * b.xi) AS DOUBLE) / 1e12 AS c
      FROM ints a JOIN ints b ON a.vec_id = b.vec_id
      GROUP BY a.pos, b.pos
    ),
    v0 AS (SELECT DISTINCT pos, 0.125 AS v FROM centered),
    """ + _SWEEP_SQL.format(out="v1", vin="v0") + "," +
    _SWEEP_SQL.format(out="v2", vin="v1") + "," +
    _SWEEP_SQL.format(out="v3", vin="v2") + """
    SELECT CAST(pos AS INT) AS pos, v AS loading
    FROM v3 ORDER BY pos
    """,
    desc="Three power-iteration sweeps toward the embedding cloud's "
         "top principal direction (L-inf normalized each sweep; the "
         "SWEEP is the operator — convergence is rate lambda2/lambda1 "
         "per sweep, so production iterates the same cheap step to "
         "tolerance; this corpus's top eigenvalues are deliberately "
         "near-degenerate). The corpus-size-dependent "
         "work is ONE pass: the 64x64 SCATTER matrix build (sample-"
         "keyed upper-triangle self-join, mirrored after — symmetry "
         "halves the fan-out; 6-dec centered values become exact "
         "integer micro-units so products and sums are plain LONG "
         "arithmetic, ~2x faster than decimal cells and still exact — "
         "ANSI mode turns the >~1e18 overflow bound into a loud "
         "error, at which point the cast widens to DECIMAL(38,12), "
         "same plan; no division, scaling does not move "
         "eigenvectors); each sweep after that "
         "is a join-agg over 4096 matrix cells — constant cost at any "
         "corpus size, the dense-matrix twin of q_pagerank_nations' "
         "sparse sweeps. Matvec terms quantize onto the engine-"
         "identical FLOOR(x*1e12+0.5) grid then decimal-sum, and the "
         "iterate renormalizes onto the 1e-10 grid the same way, so "
         "both engines walk the bit-identical trajectory with no "
         "rounding-mode tie anywhere; the all-positive start vector fixes the "
         "eigenvector sign.",
    tags=["vector", "join", "agg", "cross", "omics"],
)
def q_pca_power(spark, sf_dir):
    from ..operators.dedup import spread

    # spread() before the 64x explode (the q_bootstrap_ci lesson: a
    # single-file scan otherwise funnels the fan-out through one core;
    # 6.0 s -> 3.9 s at sf0.1)
    emb = spread(tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(col("embedding"), lambda x: (dfloor((x.cast("double")) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))).alias("vec"),
    ))
    comps = emb.select("vec_id", F.posexplode("vec").alias("pos", "comp")) \
        .withColumn("pos", col("pos") + 1)
    means = comps.groupBy("pos").agg(
        # engine-identical grid: FLOOR(mean*1e6 + 0.5)/1e6 — a plain
        # ROUND of this derived quotient can land on a half boundary
        # where the engines' rounding modes disagree (r9)
        (F.floor(
            F.sum(col("comp").cast("decimal(18,8)")).cast("double")
            / F.count("*") * lit(1e6) + lit(0.5)
        ) / lit(1e6)).alias("m")
    )
    # exact integer micro-units of the 6-dec centered values, built as
    # ONE long array per row (the 64 per-dim means are a collected
    # 64-double literal — deterministic, and the arithmetic per element
    # is the identical round(round(x-m,6)*1e6) chain the former
    # row-exploded form used). Scatter cells then accumulate in LONG
    # arithmetic (exact; integer addition is associative, so any
    # grouping of partials reproduces the same cell totals bit-for-bit).
    m_lits = F.array(*[
        lit(float(r["m"])) for r in means.orderBy("pos").collect()
    ])
    ints = emb.select(
        "vec_id",
        F.zip_with(
            "vec", m_lits,
            lambda x, m: dfloor(((dfloor((x - m) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)) * 1000000) + F.lit(0.5)).cast("long"),
        ).alias("xi"),
    )

    # scatter matrix via MAP-SIDE PARTIAL OUTER PRODUCTS: each Arrow
    # batch contributes one 64x64 int64 V^T V partial (BLAS), and only
    # the 2080 upper-triangle cells per batch shuffle — at any corpus
    # size the shuffle is O(partitions * d^2), never the former
    # O(N * d^2) exploded self-join rows. The in-batch product bound is
    # checked explicitly (numpy int64 would wrap silently where the
    # former ANSI LONG sum failed loudly); the cross-batch sum stays in
    # Spark LONG, where ANSI overflow still raises.
    def _partials(batches):
        import numpy as np
        import pandas as pd

        for batch in batches:
            if not len(batch):
                continue
            V = np.vstack(batch["xi"].to_numpy()).astype("int64")
            mx = int(np.abs(V).max()) if V.size else 0
            if mx and V.shape[0] * mx * mx >= (1 << 63):
                raise ValueError(
                    "pca_power: int64 partial-product bound exceeded; "
                    "re-run with the DECIMAL(38,12) cell fallback"
                )
            P = V.T @ V
            iu, ju = np.triu_indices(P.shape[0])
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "p": P[iu, ju]}
            )

    # The scatter matrix is 64x64 REGARDLESS of corpus size, so the
    # sweep stages run on ONE partition: spreading 4096 cells over 32
    # shuffle partitions bought nothing but task-scheduling overhead
    # (measured warm at sf0.1: 3.15 s -> 1.64 s for the three sweeps;
    # full query 2.4 s -> 1.7 s). v broadcasts into each matvec join
    # (64 rows). The L-inf normalizer stays the declared 1-row
    # broadcast (tag "cross") rather than a global window — the plan
    # audit rejects empty-partition window specs wholesale, and a
    # carve-out for "constant-size inputs" would blunt that gate.
    # Each sweep's iterate is localCheckpointed (64 rows): u feeds
    # both the normalizer aggregate and the crossJoin left side, and
    # without the truncation each sweep re-derives the whole prior
    # chain twice — a 2^sweeps subtree blowup (the graph.py
    # per-iteration lever).
    upper = pin_intermediate((
        ints.select("xi")
        .mapInPandas(_partials, schema="i int, j int, p long")
        .groupBy("i", "j")
        .agg((F.sum("p").cast("double") / F.lit(1e12)).alias("c"))
        .repartition(1)
    ).localCheckpoint(eager=False))
    cov = upper.unionAll(
        upper.filter(col("i") != col("j")).select(
            col("j").alias("i"), col("i").alias("j"), "c"
        )
    )
    v = cov.select("i").distinct().select(col("i").alias("pos"), lit(0.125).alias("v"))
    for _ in range(3):
        u = pin_intermediate((
            cov.join(broadcast(v.select(col("pos").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(
                (F.sum(F.floor(col("c") * col("v") * lit(1e12) + lit(0.5))
                       .cast("decimal(38,0)"))
                 .cast("double") / lit(1e12)).alias("u")
            )
        ).localCheckpoint(eager=False))
        linf = u.agg(F.max(F.abs(col("u"))).alias("linf"))
        v = u.crossJoin(broadcast(linf)).select(
            col("i").alias("pos"),
            (F.floor(col("u") / col("linf") * lit(1e10) + lit(0.5))
             / lit(1e10)).alias("v")
        )
    return v.select(col("pos").cast("int").alias("pos"),
                    col("v").alias("loading")).orderBy("pos")
