"""Wave 104 (r11): fingerprint-cache reuse demonstrated end-to-end.

V4 (plans/fingerprint.py) existed and was unit-tested but no
queries() entry exercised a cache HIT through the public path; this
wave builds the same logical plan twice, materializes both through a
FingerprintCache, VERIFIES the second materialization was served from
the Parquet cache (raises otherwise — a silent miss would pass the
oracle while proving nothing), and returns the cached scan. The
oracle is the plain aggregate: a cache that changes results is a
broken cache.

Determinism: money sums go through the decimal accumulator (dsum
convention); the cache directory is a per-call mkdtemp so parallel
checkouts / concurrent bench reps never share state.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import col

from .. import tables
from . import dsum, q


def _priority_rollup(spark, sf_dir):
    """The plan under test, built FRESH per call (two builds must
    fingerprint identically for the hit to happen)."""
    o = tables.load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(col("o_totalprice"), "total_price"),
        )
    )


@q(
    "q_fingerprint_cache_reuse",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    desc="fingerprint-cache reuse (V4 end-to-end): the same aggregate "
         "plan is built twice and materialized through FingerprintCache; "
         "the second build MUST hit the first's Parquet materialization "
         "(fingerprint stability across plan rebuilds is checked and a "
         "miss raises), and the returned frame is the cached scan — so "
         "the oracle also proves a round-trip through the cache "
         "preserves values exactly. Measured r11 (warm, sf0.1): miss "
         "1.33 s (compute + write) vs hit 0.28 s.",
    tags=["plans"],
)
def q_fingerprint_cache_reuse(spark, sf_dir):
    import tempfile

    from ..plans.fingerprint import FingerprintCache, plan_fingerprint

    cache = FingerprintCache(tempfile.mkdtemp(prefix="biosets_fpcache_"))
    first = _priority_rollup(spark, sf_dir)
    cache.materialize(first)  # miss: computes + writes the entry
    second = _priority_rollup(spark, sf_dir)  # fresh build, same logic
    if not cache.has(plan_fingerprint(second)):
        raise RuntimeError(
            "fingerprint instability: the rebuilt plan missed the cache "
            "entry its first build just wrote")
    out = cache.materialize(second)  # served from the Parquet entry
    return out.orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py): the vector-compression scale
# path. All grid-exact (cluster.py discipline), so the oracles
# reproduce every code and ADC score bit-for-bit.
# ---------------------------------------------------------------------------

# shared oracle CTE prefix: grid-scaled vectors, the md5-sampled
# codebook rows, exploded (subspace, code, pos) codebook components,
# and the per-(vector, subspace) argmin encoding. m=4 subspaces of
# dsub=16 over the 64-dim embeddings, n_codes=8.
_PQ_ENC_SQL = """
    v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS vec
      FROM embeddings
    ),
    ini AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '42')) - 1 AS code,
             vec
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR) || '42') LIMIT 8
    ),
    vc AS (SELECT vec_id, generate_subscripts(vec, 1) AS pos, unnest(vec) AS c FROM v),
    cb AS (
      SELECT code, (generate_subscripts(vec, 1) - 1) // 16 AS sub,
             generate_subscripts(vec, 1) AS pos, unnest(vec) AS c
      FROM ini
    ),
    dist AS (
      SELECT vc.vec_id, cb.sub, cb.code,
             SUM((vc.c - cb.c) * (vc.c - cb.c)) AS d
      FROM vc JOIN cb USING (pos)
      GROUP BY 1, 2, 3
    ),
    enc AS (
      SELECT vec_id, sub, code
      FROM (SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, code) AS rn
            FROM dist)
      WHERE rn = 1
    )
"""


@q(
    "q_pq_code_balance",
    oracle="WITH " + _PQ_ENC_SQL + """
    SELECT CAST(sub AS INTEGER) AS sub,
           CAST(code AS INTEGER) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM enc
    GROUP BY sub, code
    ORDER BY sub, code
    """,
    desc="PQ codebook occupancy: every embedding encoded to m=4 codes "
         "(argmin over 8 md5-sampled codebook entries per subspace, "
         "EXACT integer grid distances, ties to the lowest code — one "
         "Arrow pass, vectors never shuffle) and counted per "
         "(subspace, code). The index-health check a PQ deployment "
         "watches: a dead code wastes a centroid, a hot one degrades "
         "ADC resolution. Oracle recomputes every assignment "
         "bit-for-bit.",
    tags=["vector", "quantize"],
)
def q_pq_code_balance(spark, sf_dir):
    from ..operators import pq as PQ

    emb = tables.load(spark, sf_dir, "embeddings")
    cbs = PQ.pq_codebooks(emb, m=4, n_codes=8)
    enc = PQ.pq_encode(emb, cbs)
    return (
        enc.select(F.posexplode("pq_code").alias("sub0", "code"))
        .select((col("sub0")).cast("int").alias("sub"),
                col("code").cast("int").alias("code"))
        .groupBy("sub", "code")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("sub", "code")
    )


@q(
    "q_pq_knn",
    oracle="WITH " + _PQ_ENC_SQL + """,
    qsub AS (
      SELECT (pos - 1) // 16 AS sub, pos, c FROM vc WHERE vec_id = 0
    ),
    dtable AS (
      SELECT cb.sub, cb.code, SUM((qsub.c - cb.c) * (qsub.c - cb.c)) AS d
      FROM qsub JOIN cb USING (pos)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT enc.vec_id AS neighbor_id, SUM(dtable.d) AS adc_score
      FROM enc JOIN dtable ON dtable.sub = enc.sub AND dtable.code = enc.code
      WHERE enc.vec_id <> 0
      GROUP BY 1
    )
    SELECT neighbor_id, CAST(adc_score AS BIGINT) AS adc_score
    FROM scored
    ORDER BY adc_score, neighbor_id
    LIMIT 10
    """,
    desc="PQ asymmetric-distance top-10 for the vec_id-0 query: the "
         "query's m x 8 integer distance table is computed driver-side "
         "and rides into m element_at lookups on literal arrays — the "
         "ADC scan reads ONLY the 4-smallint code column (16-64x less "
         "IO than raw vectors), pure JVM, TakeOrdered keeps k. Scores "
         "are exact longs, so the ranking (score ASC, id ASC) is "
         "deterministic cross-engine including ties.",
    tags=["vector", "quantize", "similarity"],
)
def q_pq_knn(spark, sf_dir):
    from ..operators import pq as PQ

    emb = tables.load(spark, sf_dir, "embeddings")
    cbs = PQ.pq_codebooks(emb, m=4, n_codes=8)
    enc = PQ.pq_encode(emb, cbs)
    qvec = [float(x) for x in
            emb.filter(col("vec_id") == 0).first()["embedding"]]
    return PQ.pq_adc_topk(enc, cbs, qvec, k=10, exclude_self=0)


@q(
    "q_pq_recall_audit",
    oracle="WITH " + _PQ_ENC_SQL + """,
    qsub AS (
      SELECT (pos - 1) // 16 AS sub, pos, c FROM vc WHERE vec_id = 0
    ),
    dtable AS (
      SELECT cb.sub, cb.code, SUM((qsub.c - cb.c) * (qsub.c - cb.c)) AS d
      FROM qsub JOIN cb USING (pos)
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT neighbor_id FROM (
        SELECT enc.vec_id AS neighbor_id, SUM(dtable.d) AS adc_score
        FROM enc JOIN dtable ON dtable.sub = enc.sub AND dtable.code = enc.code
        WHERE enc.vec_id <> 0
        GROUP BY 1
      ) ORDER BY adc_score, neighbor_id LIMIT 10
    ),
    qv AS (SELECT pos, c FROM vc WHERE vec_id = 0),
    exact AS (
      SELECT neighbor_id FROM (
        SELECT vc.vec_id AS neighbor_id,
               SUM((vc.c - qv.c) * (vc.c - qv.c)) AS d
        FROM vc JOIN qv USING (pos)
        WHERE vc.vec_id <> 0
        GROUP BY 1
      ) ORDER BY d, neighbor_id LIMIT 10
    )
    SELECT CAST((SELECT COUNT(*) FROM adc JOIN exact USING (neighbor_id)) AS BIGINT) AS hits,
           CAST(10 AS BIGINT) AS k
    """,
    desc="PQ recall audit: |ADC top-10 ∩ exact grid-L2 top-10| for the "
         "vec_id-0 query, as exact integer counts — the quality gate a "
         "deployment runs before trusting the compressed index (the "
         "similarity-family convention of q_ann_recall_audit applied "
         "to PQ). Both rankings are exact-integer-ordered, so the "
         "intersection is deterministic cross-engine.",
    tags=["vector", "quantize", "similarity"],
)
def q_pq_recall_audit(spark, sf_dir):
    from ..operators import pq as PQ
    from ..operators.cluster import scaled_vec

    emb = tables.load(spark, sf_dir, "embeddings")
    cbs = PQ.pq_codebooks(emb, m=4, n_codes=8)
    enc = PQ.pq_encode(emb, cbs)
    qrow = emb.filter(col("vec_id") == 0).first()
    qvec = [float(x) for x in qrow["embedding"]]
    adc = PQ.pq_adc_topk(enc, cbs, qvec, k=10, exclude_self=0) \
        .select("neighbor_id")
    # exact grid-L2 top-10 (same integer grid as the encoder)
    import math

    qg = [int(math.floor(x * 1_000_000 + 0.5)) for x in qvec]
    qlit = F.array(*[F.lit(x) for x in qg])
    exact = (
        emb.filter(col("vec_id") != 0)
        .select(col("vec_id").alias("neighbor_id"),
                F.aggregate(
                    F.zip_with(scaled_vec(col("embedding")), qlit,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"), lambda acc, x: acc + x,
                ).alias("d"))
        .orderBy(col("d").asc(), col("neighbor_id"))
        .limit(10)
        .select("neighbor_id")
    )
    return adc.join(exact, "neighbor_id").agg(
        F.count("*").alias("hits"), F.lit(10).cast("long").alias("k"))


@q(
    "q_pq_knn_rerank",
    oracle="WITH " + _PQ_ENC_SQL + """,
    qsub AS (
      SELECT (pos - 1) // 16 AS sub, pos, c FROM vc WHERE vec_id = 0
    ),
    dtable AS (
      SELECT cb.sub, cb.code, SUM((qsub.c - cb.c) * (qsub.c - cb.c)) AS d
      FROM qsub JOIN cb USING (pos)
      GROUP BY 1, 2
    ),
    short AS (
      SELECT neighbor_id FROM (
        SELECT enc.vec_id AS neighbor_id, SUM(dtable.d) AS adc_score
        FROM enc JOIN dtable ON dtable.sub = enc.sub AND dtable.code = enc.code
        WHERE enc.vec_id <> 0
        GROUP BY 1
      ) ORDER BY adc_score, neighbor_id LIMIT 100
    ),
    qv AS (SELECT pos, c FROM vc WHERE vec_id = 0)
    SELECT neighbor_id, CAST(dist AS BIGINT) AS dist FROM (
      SELECT vc.vec_id AS neighbor_id,
             SUM((vc.c - qv.c) * (vc.c - qv.c)) AS dist
      FROM vc JOIN qv USING (pos)
      WHERE vc.vec_id IN (SELECT neighbor_id FROM short)
      GROUP BY 1
    )
    ORDER BY dist, neighbor_id
    LIMIT 10
    """,
    desc="PQ ADC+R retrieval (the production pattern): an ADC "
         "shortlist of 100 from the compressed codes, then EXACT "
         "grid-L2 re-ranking of just the shortlist against the raw "
         "vectors (broadcast semi-join — only 100 vectors are ever "
         "scored exactly). PQ's quantization floor limits "
         "within-cluster ranking (probe: recall@10 0.10 raw ADC on "
         "the clustered 1M corpus, 0.93 with this re-rank at "
         "shortlist 1000, 1.3 s/query); exact long distances, "
         "deterministic cross-engine.",
    tags=["vector", "quantize", "similarity"],
)
def q_pq_knn_rerank(spark, sf_dir):
    from ..operators import pq as PQ

    emb = tables.load(spark, sf_dir, "embeddings")
    cbs = PQ.pq_codebooks(emb, m=4, n_codes=8)
    enc = PQ.pq_encode(emb, cbs)
    qvec = [float(x) for x in
            emb.filter(col("vec_id") == 0).first()["embedding"]]
    return PQ.pq_adc_rerank_topk(enc, cbs, qvec, emb, k=10, shortlist=100,
                                 exclude_self=0)


@q(
    "q_components_user_chains",
    oracle="""
    SELECT CAST(MIN(event_id) AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > 1
    ORDER BY component
    """,
    desc="connected components via the r11 star-contraction default "
         "(alternating large-star/small-star, O(log n) rounds), forced "
         "onto the DISTRIBUTED path (small_graph_threshold=0): each "
         "user's first 2 events form a CHAIN head in (ts, event_id) "
         "order (event 2 links to event 1 — bounded contraction "
         "depth, see 7ca7b8d) and the rest attach to the user's "
         "first event (the star shape detectors emit), so the "
         "ground-truth components are exactly the multi-event users — "
         "the oracle recovers each component's min event_id and size "
         "with a plain GROUP BY. The bounded chain head keeps the "
         "round count fixed across scale factors (unbounded per-user "
         "chains measured 14.9 s at sf0.1; the 200k-diameter scale "
         "evidence lives in tools/scale_probe_r11_cc.py @ 4494a9f + the 10k-path "
         "pytest).",
    tags=["graph", "iterative"],
)
def q_components_user_chains(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_id",
        F.lag("event_id").over(w).alias("prev"),
        F.first("event_id").over(w).alias("head"),
        F.row_number().over(w).alias("rn"),
    ).filter(col("prev").isNotNull())
    edges = ranked.select(
        F.when(col("rn") <= 2, col("prev")).otherwise(col("head")).alias("id_a"),
        col("event_id").alias("id_b"),
    )
    comp = connected_components(edges, small_graph_threshold=0,
                                algorithm="star", max_iterations=24)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("component")
    )
