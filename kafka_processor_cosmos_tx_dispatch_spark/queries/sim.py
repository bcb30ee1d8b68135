"""'sim'-family queries — split verbatim from the queries.py
monolith (r13); registration order within the family is
unchanged, so the driver-sampling interleave is identical.
Shared helpers come from queries/_core.py."""

from __future__ import annotations

from ._core import (  # noqa: F401 — shared query toolkit
    DataFrame,
    F,
    SparkSession,
    W,
    _D_FLAT,
    _FIXED,
    _EMB_DIMS,
    _IVF_CELLS,
    _PQ_CTES,
    _km_assign_sql,
    _km_update_sql,
    _lsh_bucket_sql,
    _mmr_step,
    _sim_topk_ivf_multiprobe_body,
    load_table,
    register,
)


@register(
    "sim_topk_ivf",
    f"""
    WITH cent AS (
      SELECT i // 64 AS c, list(
               ((1103515245 * (7919 + i) + 12345) % 2147483648) % 2001 - 1000
               ORDER BY i) AS cv
      FROM unnest(generate_series(0, {_IVF_CELLS} * 64 - 1)) AS t(i)
      GROUP BY 1),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    assign AS (
      SELECT vec_id, qv, c AS cell,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS nsq
      FROM (
        SELECT v.vec_id, v.qv, ct.c,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.qv, ct.cv) DESC, ct.c) AS rn
        FROM q v CROSS JOIN cent ct)
      WHERE rn = 1),
    scored AS (
      SELECT a.vec_id AS query_id, a.cell, b.vec_id AS neighbor_id,
             list_dot_product(a.qv, b.qv)
               / sqrt(CAST(a.nsq AS DOUBLE) * CAST(b.nsq AS DOUBLE)) AS cos_sim
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < 10 AND a.vec_id != b.vec_id)
    SELECT query_id, cell, neighbor_id, cos_sim,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 5
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (probe=1): deterministic integer centroids, in-row cell
    assignment, equi-join on the cell id. The third similarity path next
    to exact brute force and SRP-LSH."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        n_centroids=_IVF_CELLS,
        k=5,
        dims=_EMB_DIMS,
    )


@register(
    "sim_topk_ivf_multiprobe",
    f"""
    WITH cent AS (
      SELECT i // 64 AS c, list(
               ((1103515245 * (7919 + i) + 12345) % 2147483648) % 2001 - 1000
               ORDER BY i) AS cv
      FROM unnest(generate_series(0, {_IVF_CELLS} * 64 - 1)) AS t(i)
      GROUP BY 1),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    ranked AS (
      SELECT v.vec_id, v.qv, ct.c,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_dot_product(v.qv, ct.cv) DESC, ct.c) AS rn
      FROM q v CROSS JOIN cent ct),
    c_assign AS (
      SELECT vec_id, qv, c AS cell,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS nsq
      FROM ranked WHERE rn = 1),
    q_assign AS (
      SELECT vec_id, qv, c AS cell,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS nsq
      FROM ranked WHERE rn <= 2 AND vec_id < 10),
    scored AS (
      SELECT a.vec_id AS query_id, a.cell, b.vec_id AS neighbor_id,
             list_dot_product(a.qv, b.qv)
               / sqrt(CAST(a.nsq AS DOUBLE) * CAST(b.nsq AS DOUBLE)) AS cos_sim
      FROM q_assign a JOIN c_assign b
        ON a.cell = b.cell AND a.vec_id != b.vec_id)
    SELECT query_id, cell, neighbor_id, cos_sim,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 5
    """,
)
def sim_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (probe=2): the corpus index is unchanged
    (each vector in its nearest cell); each query fans out to its 2
    nearest cells — the standard recall/latency dial. Still an equi-join
    on the cell id, 2× the probe=1 candidate volume."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return _sim_topk_ivf_multiprobe_body(emb)


@register(
    "sim_kmeans_clusters",
    f"""
    WITH cent0 AS (
      SELECT i // 64 AS c, list(
               ((1103515245 * (7919 + i) + 12345) % 2147483648) % 2001 - 1000
               ORDER BY i) AS cv
      FROM unnest(generate_series(0, {_IVF_CELLS} * 64 - 1)) AS t(i)
      GROUP BY 1),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    {_km_assign_sql("cent0", "a0")},
    {_km_update_sql("a0", "cent0", "cent1")},
    {_km_assign_sql("cent1", "a1")},
    {_km_update_sql("a1", "cent1", "cent2")},
    {_km_assign_sql("cent2", "afinal")}
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, dist_sq
    FROM afinal
    """,
)
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings table (k=8, 2 update rounds —
    operators/similarity.py:kmeans_assign): the semantic-curation
    primitive (cluster-balanced sampling, per-cluster dedup budgets) and
    the third iterative algorithm next to PageRank and connected
    components. Assignment is in-row against the broadcast 1-row
    centroid bank (no row-multiplying join); the update is one k×dims
    partial-aggregated shuffle; centroids — model state, k×dims ints —
    stay IN-PLAN as 1-row broadcasts between rounds (lazy since r11,
    the sim_power_iteration shape). Exact integer squared-L2 with
    offset-shifted floor-div means keeps both engines bit-identical; the
    oracle unrolls the same two rounds as CTEs."""
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=_IVF_CELLS, rounds=2, dims=_EMB_DIMS)


@register(
    "sim_kmeans_inertia",
    f"""
    WITH cent0 AS (
      SELECT i // 64 AS c, list(
               ((1103515245 * (7919 + i) + 12345) % 2147483648) % 2001 - 1000
               ORDER BY i) AS cv
      FROM unnest(generate_series(0, {_IVF_CELLS} * 64 - 1)) AS t(i)
      GROUP BY 1),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    {_km_assign_sql("cent0", "a0")},
    {_km_update_sql("a0", "cent0", "cent1")},
    {_km_assign_sql("cent1", "a1")},
    {_km_update_sql("a1", "cent1", "cent2")},
    {_km_assign_sql("cent2", "afinal")}
    SELECT CAST(cluster AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dist_sq) AS BIGINT) AS inertia,
           CAST(SUM(dist_sq) // COUNT(*) AS BIGINT) AS mean_dist_sq
    FROM afinal GROUP BY cluster
    """,
)
def sim_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: per-cluster size, inertia
    (Σ squared-L2 to the assigned centroid — the quantity Lloyd's
    algorithm minimizes and the elbow-method plots) and integer mean
    distance, over the SAME k-means run sim_kmeans_clusters registers.
    Third member of the in-engine eval family (ANN recall@k, lang-id
    confusion): a cluster with huge inertia or a size-1 cluster tells
    the curator the k or the init is wrong before any downstream op
    trusts the partitioning. All-integer aggregation of the exact
    int64 dist_sq — one keyed agg on k groups after the assign pass."""
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        kmeans_assign(emb, k=_IVF_CELLS, rounds=2, dims=_EMB_DIMS)
        .groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dist_sq").alias("inertia"),
            F.expr("SUM(dist_sq) DIV COUNT(*)").alias("mean_dist_sq"),
        )
    )


@register(
    "sim_topk_bruteforce",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 10
        AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: small query set broadcast against the corpus,
    in-row fixed-point cosine (one codegen'd expression, no explode), then
    per-query top-k window. Corpus side streams — scales to any size."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


@register(
    "sim_topk_lsh_bucketed",
    f"""
    WITH {_D_FLAT},
    {_lsh_bucket_sql()},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q
      JOIN buckets bq ON bq.vec_id = q.vec_id
      JOIN buckets bc ON bc.bucket = bq.bucket
      JOIN flat c ON c.vec_id = bc.vec_id AND q.pos = c.pos
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
)
def sim_topk_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: sign-random-projection buckets (deterministic LCG
    hyperplanes) make candidate generation an equi-join on bucket id —
    per-query work divided by 2^planes, recall < 1 by design."""
    from ..operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_bucketed_topk(
        emb.filter(F.col("vec_id") < 10), emb, dims=64, n_planes=4, k=5
    )
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


@register(
    "sim_recall_at_k",
    f"""
    WITH {_D_FLAT},
    {_lsh_bucket_sql()},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 10
        AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 5),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY s.cos_sim DESC, s.neighbor_id) AS rn
        FROM scored s
        JOIN buckets bq ON bq.vec_id = s.query_id
        JOIN buckets bc ON bc.vec_id = s.neighbor_id
          AND bc.bucket = bq.bucket)
      WHERE rn <= 5)
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS recall
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id
      AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def sim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation IN the engine: recall@5 of the
    LSH-bucketed index against the exact brute-force baseline, per
    query — the measurement every approximate-retrieval deployment runs
    before trusting an index, here as a join of the two top-k result
    relations (ground truth LEFT JOIN approximate, hit-count per
    query). The approximate side's candidate set is the same-bucket
    subset of the exact scored relation, so the oracle shares one
    scoring CTE for both.

    Scale: both result sets are |Q|·k rows regardless of corpus size —
    the recall join is trivially bounded; evaluating a new index config
    costs one extra candidate-generation pass, not a second corpus
    scan."""
    from ..operators.similarity import brute_force_topk, lsh_bucketed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, emb, k=5).select("query_id", "neighbor_id")
    approx = lsh_bucketed_topk(q, emb, dims=64, n_planes=4, k=5).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    return (
        exact.join(
            approx,
            (exact.query_id == F.col("aq"))
            & (exact.neighbor_id == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("an").alias("n_hit"),
            (
                F.count("an").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("recall"),
        )
    )


@register(
    "sim_embedding_near_dup",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nsq FROM q)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.qv, b.qv) / sqrt(a.nsq * b.nsq) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.qv, b.qv) / sqrt(a.nsq * b.nsq) >= 0.45
    """,
)
def sim_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via quantize-once + block-tiled
    dense matmul (operators/similarity.py): hash blocks packed flat, a
    distributed block-pair equi-join, one exact dgemm per pair. Integer
    dots ≪ 2^53 are exact in float64 BLAS, numpy int64, AND DuckDB's
    double-accumulating list_dot_product, so the engines agree
    bit-for-bit."""
    from ..operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.45)


@register(
    "sim_diversify_mmr",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 5
        AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    cand AS (
      SELECT query_id, neighbor_id, cos_sim AS rel FROM (
        SELECT query_id, neighbor_id,
               (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
                 AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
                   DESC, neighbor_id) AS rn
        FROM dots
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nc ON nc.vec_id = neighbor_id)
      WHERE rn <= 20),
    cids AS (SELECT DISTINCT neighbor_id AS cid FROM cand),
    flatc AS (SELECT f.* FROM flat f JOIN cids ON f.vec_id = cids.cid),
    pd AS (
      SELECT x.vec_id AS c1, y.vec_id AS c2,
             SUM(CAST(floor(CAST(x.v AS DOUBLE)*CAST(y.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flatc x JOIN flatc y ON x.pos = y.pos AND x.vec_id <> y.vec_id
      GROUP BY 1, 2),
    pair AS (
      SELECT a.query_id, a.neighbor_id AS c1, b.neighbor_id AS c2,
             (pd.d / {_FIXED}) / sqrt((n1.n / {_FIXED}) * (n2.n / {_FIXED}))
               AS sim
      FROM cand a JOIN cand b ON a.query_id = b.query_id
        AND a.neighbor_id <> b.neighbor_id
      JOIN pd ON pd.c1 = a.neighbor_id AND pd.c2 = b.neighbor_id
      JOIN norms n1 ON n1.vec_id = a.neighbor_id
      JOIN norms n2 ON n2.vec_id = b.neighbor_id),
    s1 AS (
      SELECT query_id, cid, score, 1 AS position FROM (
        SELECT query_id, neighbor_id AS cid, 0.75 * rel AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY 0.75 * rel DESC, neighbor_id) AS rn
        FROM cand) WHERE rn = 1),
    sel1 AS (SELECT query_id, cid FROM s1),
    {_mmr_step(2)},
    {_mmr_step(3)},
    {_mmr_step(4)},
    {_mmr_step(5)}
    SELECT query_id, CAST(position AS INTEGER) AS position,
           cid AS neighbor_id, score
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
          UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
          UNION ALL SELECT * FROM s5)
    """,
)
def sim_diversify_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval
    (operators/similarity.py:mmr_rerank): top-20 exact candidates per
    query (vec_id < 5), then 5 greedy unrolled selection steps —
    score = 0.75·rel − 0.25·max-sim-to-selected. The diversity-aware
    selection layer retrieval and few-shot-example pickers put on top
    of ANN, here as pure relational algebra: each step is a bounded
    argmax window over the O(k²) candidate-pair relation."""
    from ..operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        mmr_rerank(
            emb.filter(F.col("vec_id") < 5),
            emb,
            k_candidates=20,
            k_select=5,
            lam=0.75,
        )
        .select(
            "query_id",
            F.col("position").cast("int").alias("position"),
            "neighbor_id",
            "score",
        )
    )


@register(
    "sim_mutual_knn",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             SUM(CAST(floor(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat a JOIN flat b ON a.pos = b.pos
      WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
      GROUP BY 1, 2),
    scored AS (
      SELECT vec_a, vec_b,
             (d / {_FIXED}) / sqrt((na.n / {_FIXED}) * (nb.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b),
    ranked AS (
      SELECT vec_a, vec_b, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_a
               ORDER BY cos_sim DESC, vec_b) AS r_ab,
             ROW_NUMBER() OVER (PARTITION BY vec_b
               ORDER BY cos_sim DESC, vec_a) AS r_ba
      FROM scored),
    suma AS (
      SELECT vec_a,
             MAX(CASE WHEN r_ab = 1 THEN cos_sim END)
           + MAX(CASE WHEN r_ab = 2 THEN cos_sim END)
           + MAX(CASE WHEN r_ab = 3 THEN cos_sim END)
           + MAX(CASE WHEN r_ab = 4 THEN cos_sim END) AS s_a
      FROM ranked GROUP BY vec_a),
    sumb AS (
      SELECT vec_b,
             MAX(CASE WHEN r_ba = 1 THEN cos_sim END)
           + MAX(CASE WHEN r_ba = 2 THEN cos_sim END)
           + MAX(CASE WHEN r_ba = 3 THEN cos_sim END)
           + MAX(CASE WHEN r_ba = 4 THEN cos_sim END) AS s_b
      FROM ranked GROUP BY vec_b)
    SELECT r.vec_a, r.vec_b, r.cos_sim,
           (8.0 * r.cos_sim) / (s_a + s_b) AS margin
    FROM ranked r
    JOIN suma USING (vec_a) JOIN sumb USING (vec_b)
    WHERE r.r_ab = 1 AND r.r_ba = 1
    """,
)
def sim_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based mutual-nearest-neighbor mining between two embedding
    sets (even vec_ids vs odd — the two "languages"): the bitext-mining /
    cross-corpus alignment primitive (operators/similarity.py:
    mutual_knn_margin). Every pair is scored once with the fixed-point
    cosine, ranked by two windows over the same relation, and a pair
    survives iff each member is the other's top-1; the ratio margin
    2k·cos / (Σ top-k cos each side) demotes hub vectors. The top-k sums
    are rank-pivoted fixed expression trees, not float SUM()s, so both
    engines add identical doubles in identical order."""
    from ..operators.similarity import mutual_knn_margin

    emb = load_table(spark, sf_dir, "embeddings")
    return mutual_knn_margin(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=4,
    )


@register(
    "sim_power_iteration",
    """
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    r1 AS (SELECT qv, CAST(list_sum(qv) AS BIGINT) AS rd FROM q),
    s1 AS (SELECT d, CAST(SUM(qv[d + 1] * rd) AS BIGINT) AS s
           FROM r1 CROSS JOIN unnest(generate_series(0, 63)) AS t(d)
           GROUP BY d),
    m1 AS (SELECT MAX(abs(s)) AS m FROM s1),
    v1 AS (SELECT list(CASE WHEN s < 0 THEN -1 ELSE 1 END
                       * (abs(s) * 1024 // m) ORDER BY d) AS vl
           FROM s1 CROSS JOIN m1),
    r2 AS (SELECT qv, CAST(list_dot_product(qv, vl) AS BIGINT) AS rd
           FROM q CROSS JOIN v1),
    s2 AS (SELECT d, CAST(SUM(qv[d + 1] * rd) AS BIGINT) AS s
           FROM r2 CROSS JOIN unnest(generate_series(0, 63)) AS t(d)
           GROUP BY d),
    m2 AS (SELECT MAX(abs(s)) AS m FROM s2)
    SELECT CAST(d AS INTEGER) AS d,
           CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END
                * (abs(s) * 1024 // m) AS BIGINT) AS component
    FROM s2 CROSS JOIN m2
    """,
)
def sim_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding gram matrix by 2-round
    unrolled power iteration (operators/similarity.py:
    power_iteration_top_component) — the spectral primitive under PCA
    whitening, spectral clustering seeds, and embedding-drift monitors,
    and the engine's fourth iterative algorithm next to PageRank,
    connected components, and k-means. Unlike those, it needs NO driver
    round-trips: the dims-length model state stays in-plan as a 1-row
    broadcast between rounds, so the whole query is lazy. Exact int64
    arithmetic (quantized vectors, integer normalization) makes both
    engines bit-identical; the oracle unrolls the same two rounds."""
    from ..operators.similarity import power_iteration_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_top_component(emb, rounds=2)


@register(
    "sim_topk_pq",
    f"""
    WITH {_PQ_CTES}
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_dist ASC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py:pq_encode/
    pq_topk): the corpus is compressed to 4 subspace codes per vector
    (the billion-scale memory trick — 4 ints instead of 64 floats) and
    queries rank by asymmetric distance to the reconstruction (ADC), the
    fourth ANN path next to brute force, SRP-LSH, and IVF. Encoding and
    the per-query ADC lookup tables are in-row against the data-free LCG
    codebooks (exact integer L2, lowest-code ties), so the oracle
    rebuilds the identical index relationally."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb.filter(F.col("vec_id") < 10), emb, k_out=5, dims=_EMB_DIMS)


@register(
    "sim_scalar_quantize_int8",
    """
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             CAST(list_min(embedding) AS DOUBLE) AS mn,
             CAST(list_max(embedding) AS DOUBLE) AS mx
      FROM embeddings),
    coded AS (
      SELECT vec_id, mn, mx, v,
             CASE WHEN mx = mn
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x ->
                    CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5)
                         AS BIGINT))
             END AS c
      FROM base)
    SELECT vec_id, mn, mx,
           CAST(len(v) AS INTEGER) AS n_dims,
           CAST(list_sum(c) AS BIGINT) AS code_sum,
           CAST(list_sum(list_transform(c, (x, i) -> i * x))
                AS BIGINT) AS code_wsum,
           CAST(list_sum(list_transform(v, (x, i) ->
                 CAST(floor(
                   (x - (mn + c[i] * (mx - mn) / 255.0))
                   * (x - (mn + c[i] * (mx - mn) / 255.0))
                   * 1e12 + 0.5) AS BIGINT)))
                AS BIGINT) AS err_fp
    FROM coded
    """,
)
def sim_scalar_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the standard
    4x storage/bandwidth cut before ANN indexing (per-vector min/max
    affine scale to [0,255] codes) plus the reconstruction-error audit
    that decides whether int8 is acceptable for a given corpus.

    Cross-engine exactness: codes come from floor(z + 0.5) on
    identically-computed IEEE doubles (no engine-specific rounding
    mode); the error sum is per-element FIXED-POINT (floor(e^2 * 1e12))
    summed as int64, so element order cannot perturb a float
    accumulation. code_wsum is the 1-based index-weighted sum — an
    order-sensitive checksum of the full code vector without shipping
    it. Everything is built-in HOFs (transform/aggregate): JVM-side,
    whole-stage codegen, zero Python.

    Scale: row-local (no shuffle at all); at 100 TB this runs at scan
    speed and writes 1/4 the bytes."""
    emb = load_table(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(
        "vec_id",
        dv.alias("v"),
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
    )
    mn, mx = F.col("mn"), F.col("mx")

    def code(x):
        return F.floor((x - mn) * F.lit(255.0) / (mx - mn) + F.lit(0.5)).cast(
            "long"
        )

    coded = base.withColumn(
        "c",
        F.when(
            mx == mn,
            F.transform(F.col("v"), lambda x: F.lit(0).cast("long")),
        ).otherwise(F.transform(F.col("v"), code)),
    )

    def sum_long(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    recon_err_fp = F.transform(
        F.col("v"),
        lambda x, i: F.floor(
            (x - (mn + F.element_at(F.col("c"), i + 1) * (mx - mn) / 255.0))
            * (x - (mn + F.element_at(F.col("c"), i + 1) * (mx - mn) / 255.0))
            * F.lit(1e12)
            + F.lit(0.5)
        ).cast("long"),
    )
    return coded.select(
        "vec_id",
        "mn",
        "mx",
        F.size("v").alias("n_dims"),
        sum_long(F.col("c")).alias("code_sum"),
        sum_long(
            F.transform(F.col("c"), lambda x, i: (i + 1) * x)
        ).alias("code_wsum"),
        sum_long(recon_err_fp).alias("err_fp"),
    )


@register(
    "sim_topk_rerank",
    f"""
    WITH {_PQ_CTES},
    cand AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adc_dist ASC, neighbor_id) AS rn
            FROM scored)
      WHERE rn <= 20),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
               - 2 * CAST(list_dot_product(qq.qv, qn.qv) AS BIGINT)
               + CAST(list_dot_product(qn.qv, qn.qv) AS BIGINT)
               AS exact_dist
      FROM cand c
      JOIN q qq ON qq.vec_id = c.query_id
      JOIN q qn ON qn.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, exact_dist, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY exact_dist ASC, neighbor_id) AS rn
          FROM exact)
    WHERE rn <= 5
    """,
)
def sim_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine retrieval — the canonical two-stage ANN serving
    pattern: PQ/ADC generates 20 candidates per query from the
    compressed index (operators/similarity.py:pq_topk, 4 ints per
    corpus row), then ONLY those 10x20 pairs are reranked by exact
    fixed-point L2 against the full vectors. The quantization error
    that reorders PQ's tail ranks is repaired where it matters (the
    head) at the cost of touching 20 full vectors per query instead of
    the whole corpus — the recall/cost dial every production vector
    store (FAISS refine, ScaNN reorder) exposes.

    Scale: stage 1 streams the coded corpus against broadcast ADC
    tables; stage 2 is a candidate-set (O(queries x 20)) broadcast join
    back to the full vectors — corpus bandwidth stays PQ-compressed, the
    exact reads are point lookups. Distances are integer (x1024
    fixed-point, same convention as the PQ index), so ranks are
    deterministic cross-engine."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cand = pq_topk(emb.filter(F.col("vec_id") < 10), emb, k_out=20, dims=_EMB_DIMS).select(
        "query_id", "neighbor_id"
    )
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1024.0)).cast("long"),
        ).alias("qv"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    qq, qn = F.col("q.qv"), F.col("n.qv")
    exact = (
        cand.join(F.broadcast(qv.alias("q")), F.col("query_id") == F.col("q.vec_id"))
        .join(qv.alias("n"), F.col("neighbor_id") == F.col("n.vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(qq, qq) - 2 * dot(qq, qn) + dot(qn, qn)).alias("exact_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


# --------------------------------------------------------------------------
# round-8 widening: radius retrieval, late-interaction scoring, regression
# / diversity stats, link-prediction + BFS graph ops, BM25 ranking,
# containment dedup, cohort retention
# --------------------------------------------------------------------------


@register(
    "sim_range_search",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 10
        AND q.vec_id <> c.vec_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT query_id, neighbor_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id)
    WHERE cos_sim >= 0.25
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius retrieval (FAISS range_search): every neighbor within a
    cosine threshold, answer set size data-dependent. Unlike top-k
    there is NO per-query window shuffle — the threshold filter runs
    inside the one narrow corpus scan stage (operators/similarity.py:
    range_search), so the plan is strictly cheaper than brute-force
    top-k. Fixed-point cosine ⇒ the >= compare is bit-deterministic."""
    from ..operators.similarity import range_search

    emb = load_table(spark, sf_dir, "embeddings")
    return range_search(emb.filter(F.col("vec_id") < 10), emb, threshold=0.25)


@register(
    "sim_maxsim_multivector",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT q.vec_id AS token_id, c.vec_id AS cid,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 4
      GROUP BY 1, 2),
    scored AS (
      SELECT e.label AS doc, dots.token_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN embeddings e ON e.vec_id = dots.cid
      JOIN norms nq ON nq.vec_id = dots.token_id
      JOIN norms nc ON nc.vec_id = dots.cid),
    per_token AS (
      SELECT doc, token_id, MAX(cos_sim) AS best
      FROM scored GROUP BY 1, 2)
    SELECT doc,
           SUM(CAST(floor(best * {_FIXED}) AS BIGINT)) / {_FIXED} AS maxsim,
           COUNT(*) AS n_tokens
    FROM per_token GROUP BY doc
    """,
)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT) MaxSim: multi-vector documents (all
    embeddings sharing a label) scored against a small query-token set
    as Σ_token max_docvec cos. Plan: corpus × broadcast(4 tokens) in one
    map stage, then two map-side-combinable keyed aggs ((doc, token)
    max → doc fixed-point sum) — never a doc×doc product
    (operators/similarity.py:maxsim_multivector). The cross-token sum
    goes through fixed-point floor so accumulation order is moot."""
    from ..operators.similarity import maxsim_multivector

    emb = load_table(spark, sf_dir, "embeddings")
    return maxsim_multivector(emb.filter(F.col("vec_id") < 4), emb)


@register(
    "sim_topk_ivfpq",
    f"""
    WITH {_PQ_CTES},
    icent AS (
      SELECT i // 64 AS c, list(
               ((1103515245 * (7919 + i) + 12345) % 2147483648) % 2001 - 1000
               ORDER BY i) AS cv
      FROM unnest(generate_series(0, {_IVF_CELLS} * 64 - 1)) AS t(i)
      GROUP BY 1),
    assign AS (
      SELECT vec_id, c AS cell FROM (
        SELECT v.vec_id, ct.c,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.qv, ct.cv) DESC, ct.c) AS rn
        FROM q v CROSS JOIN icent ct)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id, c AS cell FROM (
        SELECT v.vec_id, ct.c,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.qv, ct.cv) DESC, ct.c) AS rn
        FROM q v CROSS JOIN icent ct
        WHERE v.vec_id < 10)
      WHERE rn <= 2),
    iscored AS (
      SELECT qs.vec_id AS query_id, p.cell, e.vec_id AS neighbor_id,
             CAST(SUM(CAST(list_dot_product(qs.sv, qs.sv) AS BIGINT)
                 - 2 * CAST(list_dot_product(qs.sv, c.cv) AS BIGINT)
                 + CAST(list_dot_product(c.cv, c.cv) AS BIGINT))
               AS BIGINT) AS adc_dist
      FROM sub qs
      JOIN probes p ON p.vec_id = qs.vec_id
      JOIN assign a ON a.cell = p.cell
      JOIN enc e ON e.vec_id = a.vec_id AND qs.m = e.m
        AND qs.vec_id <> e.vec_id
      JOIN cent c ON c.cid = e.m * 16 + e.code
      WHERE qs.vec_id < 10
      GROUP BY 1, 2, 3)
    SELECT query_id, cell, neighbor_id, adc_dist, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_dist ASC, neighbor_id) AS rn
          FROM iscored)
    WHERE rn <= 5
    """,
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IndexIVFPQ): coarse cells prune WHICH rows are
    scored (probe=2 of {_IVF_CELLS} cells), PQ/ADC codes decide HOW
    (operators/similarity.py:ivfpq_topk). The corpus index is one Arrow
    pass emitting (id, 4 codes, cell) — the cell rides the pq_encode
    passthrough so codes and cells never re-join; the search is an
    equi-join on cell against broadcast (query, probe-cell, ADC-table)
    rows. The billion-vector layout: m ints + a cell id per corpus row,
    n_probe/n_cells of the index touched per query."""
    from ..operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        n_centroids=_IVF_CELLS,
        n_probe=2,
        k_out=5,
        dims=_EMB_DIMS,
    )


@register(
    "sim_knn_classify",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 20
        AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY (d / {_FIXED}) / sqrt((nq.n / {_FIXED})
                          * (nc.n / {_FIXED})) DESC, neighbor_id) AS rn
        FROM dots
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nc ON nc.vec_id = neighbor_id)
      WHERE rn <= 5),
    votes AS (
      SELECT t.query_id, e.label, COUNT(*) AS n_votes
      FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
      GROUP BY 1, 2)
    SELECT query_id, label AS predicted_label,
           CAST(n_votes AS INTEGER) AS n_votes
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY n_votes DESC, label) AS rn FROM votes)
    WHERE rn = 1
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification — ML inference as retrieval: each query
    vector takes the majority label of its 5 exact nearest neighbors
    (deterministic tiebreak: vote count desc, then smallest label).
    Plan: the brute-force top-k (bounded query broadcast, corpus
    streams) + a neighbor→label equi-join + two small keyed aggs — the
    per-query work after retrieval is O(k). At 100 TB the retrieval
    stage swaps for the IVF/PQ index (same downstream vote); this is
    how embedding-based labeling (nearest-labeled-example propagation)
    runs over an unlabeled corpus."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    topk = brute_force_topk(emb.filter(F.col("vec_id") < 20), emb, k=5)
    votes = (
        topk.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("predicted_label"),
            F.col("n_votes").cast("int").alias("n_votes"),
        )
    )


@register(
    "sim_pca_top2",
    """
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    r1 AS (SELECT qv, CAST(list_sum(qv) AS BIGINT) AS rd FROM q),
    s1 AS (SELECT d, CAST(SUM(qv[d + 1] * rd) AS BIGINT) AS s
           FROM r1 CROSS JOIN unnest(generate_series(0, 63)) AS t(d)
           GROUP BY d),
    m1 AS (SELECT MAX(abs(s)) AS m FROM s1),
    v1 AS (SELECT list(CASE WHEN s < 0 THEN -1 ELSE 1 END
                       * (abs(s) * 1024 // m) ORDER BY d) AS vl
           FROM s1 CROSS JOIN m1),
    r2 AS (SELECT qv, CAST(list_dot_product(qv, vl) AS BIGINT) AS rd
           FROM q CROSS JOIN v1),
    s2 AS (SELECT d, CAST(SUM(qv[d + 1] * rd) AS BIGINT) AS s
           FROM r2 CROSS JOIN unnest(generate_series(0, 63)) AS t(d)
           GROUP BY d),
    m2 AS (SELECT MAX(abs(s)) AS m FROM s2),
    c1 AS (SELECT CAST(d AS INTEGER) AS d,
                  CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END
                       * (abs(s) * 1024 // m) AS BIGINT) AS component1
           FROM s2 CROSS JOIN m2),
    w1 AS (SELECT list(component1 ORDER BY d) AS wl FROM c1),
    ss AS (SELECT wl, CAST(list_dot_product(wl, wl) AS BIGINT) AS ssq
           FROM w1),
    defl AS (
      SELECT list_transform(generate_series(1, len(qv)),
               i -> CASE WHEN qv[i] * ssq - xv * wl[i] < 0
                         THEN -((-(qv[i] * ssq - xv * wl[i])) // 134217728)
                         ELSE (qv[i] * ssq - xv * wl[i]) // 134217728
                    END) AS qv
      FROM (SELECT qv, wl, ssq,
                   CAST(list_dot_product(qv, wl) AS BIGINT) AS xv
            FROM q CROSS JOIN ss)),
    r3 AS (SELECT qv, CAST(list_sum(qv) AS BIGINT) AS rd FROM defl),
    s3 AS (SELECT d, CAST(SUM(qv[d + 1] * rd) AS BIGINT) AS s
           FROM r3 CROSS JOIN unnest(generate_series(0, 63)) AS t(d)
           GROUP BY d),
    m3 AS (SELECT MAX(abs(s)) AS m FROM s3),
    v3 AS (SELECT list(CASE WHEN s < 0 THEN -1 ELSE 1 END
                       * (abs(s) * 1024 // m) ORDER BY d) AS vl
           FROM s3 CROSS JOIN m3),
    r4 AS (SELECT qv, CAST(list_dot_product(qv, vl) AS BIGINT) AS rd
           FROM defl CROSS JOIN v3),
    s4 AS (SELECT d, CAST(SUM(qv[d + 1] * rd) AS BIGINT) AS s
           FROM r4 CROSS JOIN unnest(generate_series(0, 63)) AS t(d)
           GROUP BY d),
    m4 AS (SELECT MAX(abs(s)) AS m FROM s4),
    c2 AS (SELECT CAST(d AS INTEGER) AS d,
                  CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END
                       * (abs(s) * 1024 // m) AS BIGINT) AS component2
           FROM s4 CROSS JOIN m4)
    SELECT c1.d, component1, component2 FROM c1 JOIN c2 ON c1.d = c2.d
    """,
)
def sim_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal directions by power iteration + Hotelling
    deflation (operators/similarity.py:pca_top2_components) — the
    2-component PCA under embedding-drift dashboards and whitening
    preludes: v1 from the gram iteration, every row deflated IN-ROW
    (x·|v1|² − (x·v1)·v1, the scaled projection-removal that keeps all
    other eigendirections), sign-split 2²⁷ downscale back into the
    input envelope, v2 = power iteration of the deflated corpus.
    Exact int64 end-to-end and fully lazy — v1 re-enters the plan as a
    1-row broadcast, |v1|² and x·v1 are let-bound in the deflation
    zip_with (unbound they re-evaluate per element), and the oracle
    unrolls the identical arithmetic; pinned against a pure-Python
    integer reference in tests/test_llm_ops.py.

    Scale: two power iterations = four linear passes + dims-cell aggs;
    the deflation is one narrow map. Nothing quadratic, nothing
    collected."""
    from ..operators.similarity import pca_top2_components

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top2_components(emb, rounds=2)


@register(
    "sim_topk_hamming",
    """
    WITH packed AS (
      SELECT vec_id,
        CAST(list_sum(list_transform(range(0, 32), d ->
          CASE WHEN embedding[CAST(d AS INT) + 1] >= 0
               THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS w0,
        CAST(list_sum(list_transform(range(0, 32), d ->
          CASE WHEN embedding[CAST(d AS INT) + 33] >= 0
               THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS w1
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
                  AS INTEGER) AS hamming
      FROM packed q JOIN packed c
        ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, hamming, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY hamming, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def sim_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (operators/similarity.py:hamming_topk):
    sign-binarize each embedding and bit-pack it into two 32-bit words
    (64 floats -> 8 bytes, the 32x compression that lets an exhaustive
    scan hold a billion vectors in RAM — FAISS IndexBinaryFlat), then
    rank candidates by popcount-XOR Hamming distance. The fifth ANN
    path next to brute force, SRP-LSH, IVF, and PQ, and the standard
    cheap first stage before a float rerank (sim_topk_rerank).

    Scale: packing is one aggregate HOF per word inside the corpus scan
    (no explode, whole-stage codegen); queries broadcast; distance is
    two XOR+popcounts per candidate — all integer, so the oracle is the
    identical packing in SQL."""
    from ..operators.similarity import hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hamming_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


@register(
    "sim_hamming_recall",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 10
        AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 5),
    packed AS (
      SELECT vec_id,
        CAST(list_sum(list_transform(range(0, 32), d ->
          CASE WHEN embedding[CAST(d AS INT) + 1] >= 0
               THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS w0,
        CAST(list_sum(list_transform(range(0, 32), d ->
          CASE WHEN embedding[CAST(d AS INT) + 33] >= 0
               THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS w1
      FROM embeddings),
    hscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
               AS hamming
      FROM packed q JOIN packed c
        ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY hamming, neighbor_id) AS rn
        FROM hscored) WHERE rn <= 5)
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS recall
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id
      AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def sim_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the binary-quantized Hamming index (sim_topk_hamming)
    against the exact cosine baseline, per query — the measurement that
    decides whether 32x compression is usable as a first-stage filter
    or needs a wider candidate pool before the float rerank
    (sim_topk_rerank's pattern). Same two-relation LEFT JOIN shape as
    sim_recall_at_k; both result sets are |Q|*k rows regardless of
    corpus size, so the eval itself is scale-free. Measured: ~0.24
    mean recall@5 on the sf0.01 embeddings — the testdata vectors are
    zero-centered but near-uniform (weakly separated neighbors), the
    regime where 1 bit/dim genuinely loses rank order; this eval
    existing IS the point (measure, don't guess)."""
    from ..operators.similarity import brute_force_topk, hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q10 = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q10, emb, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = hamming_topk(q10, emb, k=5).select(
        "query_id", F.col("neighbor_id").alias("h_neighbor")
    )
    return (
        exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["neighbor_id"] == approx["h_neighbor"]),
            "left",
        )
        .drop(approx["query_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("h_neighbor").cast("long").alias("n_hit"),
            (
                F.count("h_neighbor").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("recall"),
        )
    )


@register(
    "sim_topk_hamming_rerank",
    """
    WITH packed AS (
      SELECT vec_id,
        CAST(list_sum(list_transform(range(0, 32), d ->
          CASE WHEN embedding[CAST(d AS INT) + 1] >= 0
               THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS w0,
        CAST(list_sum(list_transform(range(0, 32), d ->
          CASE WHEN embedding[CAST(d AS INT) + 33] >= 0
               THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS w1
      FROM embeddings),
    hscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
               AS hamming
      FROM packed q JOIN packed c
        ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
    cand AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY hamming, neighbor_id) AS rn
            FROM hscored)
      WHERE rn <= 50),
    qv AS (SELECT vec_id,
                  list_transform(embedding, x ->
                    CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS v
           FROM embeddings),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_dot_product(qq.v, qq.v) AS BIGINT)
               - 2 * CAST(list_dot_product(qq.v, qn.v) AS BIGINT)
               + CAST(list_dot_product(qn.v, qn.v) AS BIGINT)
               AS exact_dist
      FROM cand c
      JOIN qv qq ON qq.vec_id = c.query_id
      JOIN qv qn ON qn.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, exact_dist, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY exact_dist ASC, neighbor_id) AS rn
          FROM exact)
    WHERE rn <= 5
    """,
)
def sim_topk_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of binary-quantized retrieval — and the
    direct answer to sim_hamming_recall's measured 0.24: Hamming top-50
    over the 8-byte packed corpus (sim_topk_hamming's scan, 10x the
    final k) generates candidates, then ONLY those 10x50 pairs are
    reranked by exact fixed-point L2 against the full vectors — the
    same coarse-to-fine dial as sim_topk_rerank with the binary index
    as stage 1 (FAISS IndexBinaryFlat + refine). Measured on the sf0.01
    embeddings: recall@5 vs the exact baseline goes 0.24 (raw
    hamming@5, sim_hamming_recall) -> 0.68 with the 50-candidate pool +
    rerank, while the corpus scan still reads 8 bytes/vector.

    Scale: stage 1 is the popcount-XOR scan (corpus streams, queries
    broadcast); stage 2 touches 50 full vectors per query as point
    lookups. All-integer distances, deterministic ranks."""
    from ..operators.similarity import hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cand = hamming_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=50
    ).select("query_id", "neighbor_id")
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1024.0)).cast("long"),
        ).alias("qv"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    qq, qn = F.col("q.qv"), F.col("n.qv")
    exact = (
        cand.join(
            F.broadcast(qv.alias("q")),
            F.col("query_id") == F.col("q.vec_id"),
        )
        .join(qv.alias("n"), F.col("neighbor_id") == F.col("n.vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(qq, qq) - 2 * dot(qq, qn) + dot(qn, qn)).alias(
                "exact_dist"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
    return exact.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= 5)


@register(
    "sim_matryoshka_recall",
    f"""
    WITH {_D_FLAT},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id < 10
        AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 5),
    pnorms AS (
      SELECT vec_id,
             SUM(CAST(floor(CAST(v AS DOUBLE)*CAST(v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS n
      FROM flat WHERE pos <= 16 GROUP BY vec_id),
    pdots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(floor(CAST(q.v AS DOUBLE)*CAST(c.v AS DOUBLE)*{_FIXED})
                 AS BIGINT)) AS d
      FROM flat q JOIN flat c ON q.pos = c.pos AND q.pos <= 16
        AND c.pos <= 16 AND q.vec_id < 10 AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    pscored AS (
      SELECT query_id, neighbor_id,
             (d / {_FIXED}) / sqrt((nq.n / {_FIXED}) * (nc.n / {_FIXED}))
               AS cos_sim
      FROM pdots
      JOIN pnorms nq ON nq.vec_id = query_id
      JOIN pnorms nc ON nc.vec_id = neighbor_id),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM pscored) WHERE rn <= 5)
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS recall
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id
      AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PREFIX-dimension retrieval (the Matryoshka/MRL
    truncation: score with only the first 16 of 64 dims) against the
    full-dimension exact cosine baseline — the eval that sizes the
    adaptive-retrieval ladder: how much rank order does a 4x-cheaper
    prefix scan keep, before the full-dim rerank pays for the rest.
    Composition: brute_force_topk over SLICED vectors (the prefix is
    just a narrower embedding — same fixed-point dot/norm machinery,
    zero new scoring code) vs the same operator on full vectors; the
    eval join is |Q|*k rows, scale-free. At 100 TB the prefix scan
    reads 1/4 the bytes of the full scan with the identical plan —
    that byte ratio, times the recall this query MEASURES, is the
    prefix ladder's whole value proposition."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")

    def prefix(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id", F.slice("embedding", 1, 16).alias("embedding")
        )

    q10 = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q10, emb, k=5).select("query_id", "neighbor_id")
    approx = brute_force_topk(prefix(q10), prefix(emb), k=5).select(
        "query_id", F.col("neighbor_id").alias("p_neighbor")
    )
    return (
        exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["neighbor_id"] == approx["p_neighbor"]),
            "left",
        )
        .drop(approx["query_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("p_neighbor").cast("long").alias("n_hit"),
            (
                F.count("p_neighbor").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# trained PQ codebooks (r13) — completes the PQ family the way
# text_quality_train completed the quality family
# --------------------------------------------------------------------------


def _pq_q_sql(s: int) -> str:
    """Quantized 16-dim slice of subspace s (1-based inclusive DuckDB
    list slice), named qs{s}."""
    return (
        f"qs{s} AS (SELECT vec_id, list_transform("
        f"embedding[{s * 16 + 1}:{(s + 1) * 16}],"
        " x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv"
        " FROM embeddings)"
    )


def _pq_assign_sql(q: str, cent: str, out: str) -> str:
    dist = (
        f"CAST(list_dot_product(v.qv, v.qv) AS BIGINT)"
        f" - 2 * CAST(list_dot_product(v.qv, ct.cv) AS BIGINT)"
        f" + CAST(list_dot_product(ct.cv, ct.cv) AS BIGINT)"
    )
    return f"""
    {out} AS (
      SELECT vec_id, qv, c AS cluster, dist_sq FROM (
        SELECT v.vec_id, v.qv, ct.c, {dist} AS dist_sq,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dist} ASC, ct.c ASC) AS rn
        FROM {q} v CROSS JOIN {cent} ct) WHERE rn = 1)"""


def _pq_update_sql(assign: str, prev_cent: str, out: str) -> str:
    return f"""
    {out}_s AS (
      SELECT cluster, d, SUM(qv[d + 1] + 40000) AS s, COUNT(*) AS n
      FROM {assign} CROSS JOIN unnest(generate_series(0, 15)) AS t(d)
      GROUP BY cluster, d),
    {out} AS (
      SELECT p.c, COALESCE(u.cv, p.cv) AS cv
      FROM {prev_cent} p LEFT JOIN (
        SELECT cluster AS c, list(s // n - 40000 ORDER BY d) AS cv
        FROM {out}_s GROUP BY cluster) u USING (c))"""


def _pq_train_subspace_sql(s: int) -> str:
    """Two unrolled Lloyd rounds + the final-assignment update for one
    subspace; emits cells{s}."""
    return f"""
    {_pq_q_sql(s)},
    {_pq_assign_sql(f"qs{s}", "pcent0", f"pa0_{s}")},
    {_pq_update_sql(f"pa0_{s}", "pcent0", f"pcent1_{s}")},
    {_pq_assign_sql(f"qs{s}", f"pcent1_{s}", f"pa1_{s}")},
    {_pq_update_sql(f"pa1_{s}", f"pcent1_{s}", f"pcent2_{s}")},
    {_pq_assign_sql(f"qs{s}", f"pcent2_{s}", f"pa2_{s}")},
    cells{s} AS (
      SELECT CAST({s} AS INTEGER) AS subspace,
             CAST(cluster AS INTEGER) AS cluster,
             CAST(d AS INTEGER) AS d,
             CAST(su // n - 40000 AS BIGINT) AS cval,
             CAST(n AS BIGINT) AS n_assigned
      FROM (SELECT cluster, d, SUM(qv[d + 1] + 40000) AS su,
                   COUNT(*) AS n
            FROM pa2_{s} CROSS JOIN unnest(generate_series(0, 15)) AS t(d)
            GROUP BY cluster, d))"""


def _pq_explode_slices(df: DataFrame) -> DataFrame:
    """(vec_id, g, emb16): posexplode a 64-dim embedding relation into
    its 4 16-dim PQ subspace slices — ONE scan feeds every subspace
    (the slices can't prune at the parquet scan anyway; the whole
    embedding column is read either way). Shared by the three PQ
    trainers' grouped one-plan shapes."""
    from ..operators.similarity import PQ_M

    return df.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[F.slice("embedding", s * 16 + 1, 16) for s in range(PQ_M)]
            )
        ).alias("g", "emb16"),
    )


@register(
    "sim_pq_train",
    "WITH pcent0 AS (\n"
    "      SELECT i // 16 AS c, list(\n"
    "               ((1103515245 * (7919 + i) + 12345) % 2147483648)"
    " % 2001 - 1000\n"
    "               ORDER BY i) AS cv\n"
    "      FROM unnest(generate_series(0, 255)) AS t(i)\n"
    "      GROUP BY 1),"
    + ",".join(_pq_train_subspace_sql(s) for s in range(4))
    + """
    SELECT * FROM cells0
    UNION ALL SELECT * FROM cells1
    UNION ALL SELECT * FROM cells2
    UNION ALL SELECT * FROM cells3
    """,
)
def sim_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the product-quantization codebooks in-engine — the other
    half of the PQ family (sim_topk_pq/sim_topk_ivfpq APPLY a data-free
    LCG codebook; a real index trains per-subspace k-means, and this is
    that trainer): for each of the 4 subspaces of the 64-dim embedding,
    2 Lloyd rounds over the quantized 16-dim slice (k=16 codes — the
    kmeans_assign lazy-bank machinery verbatim, all-integer assignment
    and offset floor-div means), reporting the UPDATE of the final
    assignment as the trained codebook: (subspace, cluster, d, cval,
    n_assigned), ≤ 4×16×16 = 1024 cells. Every subspace starts from the
    same 16-centroid LCG bank, so round 0 equals the fixed codebook the
    apply-side queries pin — training is exactly 'what the static
    codebook becomes after two Lloyd updates on the data'. Clusters
    with zero members vanish from the output (FAISS keeps the stale
    centroid; compose with the init bank if that behavior is needed).

    Scale: ONE subspace-keyed lazy k-means chain for all 4 codebooks
    (kmeans_assign_grouped, r14 verdict #4 — per-subspace results
    identical to 4 separate kmeans_assign runs by the grouped parity
    contract): the corpus is posexploded into (subspace, 16-dim slice)
    rows and scanned ONCE per round — the former per-subspace slice
    scans each read the whole embedding parquet column anyway (array
    slices don't prune at the scan), so this is strictly less IO and
    ¼ the fixed plan/codegen cost. Assignment is an in-row argmin
    against the 1-row broadcast composite bank; each update is a
    ≤4×k×16-cell map-side-combinable agg. At 100 TB use
    sim_pq_train_sampled instead — the FAISS dial: the Lloyd rounds
    run over a fixed 256-point sample (r13 verdict 'What's wrong #3').
    The oracle unrolls all four subspaces' rounds as plain CTEs."""
    from ..operators.similarity import (
        KMEANS_MEAN_OFFSET,
        PQ_K,
        PQ_M,
        kmeans_assign_grouped,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    off = KMEANS_MEAN_OFFSET
    asg = kmeans_assign_grouped(
        _pq_explode_slices(emb),
        n_groups=PQ_M,
        vec_col="emb16",
        k=PQ_K,
        rounds=2,
        with_vec=True,
        dims=_EMB_DIMS // PQ_M,
    )
    return (
        asg.select("g", "cluster", F.posexplode("qv").alias("d", "v"))
        .groupBy("g", "cluster", "d")
        .agg(
            F.sum(F.col("v") + F.lit(off)).alias("su"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("g").cast("int").alias("subspace"),
            F.col("cluster").cast("int").alias("cluster"),
            F.col("d").cast("int").alias("d"),
            (F.expr("su DIV n") - F.lit(off)).alias("cval"),
            F.col("n").cast("long").alias("n_assigned"),
        )
    )


@register(
    "sim_pq_train_gain",
    "WITH pcent0 AS (\n"
    "      SELECT i // 16 AS c, list(\n"
    "               ((1103515245 * (7919 + i) + 12345) % 2147483648)"
    " % 2001 - 1000\n"
    "               ORDER BY i) AS cv\n"
    "      FROM unnest(generate_series(0, 255)) AS t(i)\n"
    "      GROUP BY 1),"
    + ",".join(_pq_train_subspace_sql(s) for s in range(4))
    + ","
    + ",".join(
        f"""
    gain{s} AS (
      SELECT CAST({s} AS INTEGER) AS subspace,
             (SELECT CAST(SUM(dist_sq) AS BIGINT) FROM pa0_{s})
               AS inertia_init,
             (SELECT CAST(SUM(dist_sq) AS BIGINT) FROM pa2_{s})
               AS inertia_trained)"""
        for s in range(4)
    )
    + """
    SELECT subspace, inertia_init, inertia_trained,
           1000 - (1000 * inertia_trained) // inertia_init
             AS gain_permille
    FROM (SELECT * FROM gain0 UNION ALL SELECT * FROM gain1
          UNION ALL SELECT * FROM gain2 UNION ALL SELECT * FROM gain3)
    """,
)
def sim_pq_train_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVALUATE the trained PQ codebooks (the eval half of
    sim_pq_train, like text_quality_train_eval for the quality
    trainer): per subspace, total quantization error (Σ exact integer
    squared-L2 to the assigned code) under the UNTRAINED LCG codebook
    (round-0 assignment — exactly what sim_topk_pq quantizes with)
    vs after the two Lloyd rounds, plus the permille error reduction.
    The one-glance answer to 'was training the codebook worth it'
    before an index rebuild at corpus scale.

    Scale: the grouped one-plan shape ×2 (kmeans_assign_grouped with
    rounds=0 and rounds=2 — per-subspace parity with the former four
    separate subplans): each pass posexplodes the corpus ONCE and
    reduces to one long per (subspace) group (the inertia shape of
    sim_kmeans_inertia); output is exactly 4 rows via a 4×4 join on
    the subspace key."""
    from ..operators.similarity import PQ_K, PQ_M, kmeans_assign_grouped

    emb = load_table(spark, sf_dir, "embeddings")
    sq = _pq_explode_slices(emb)
    # untrained inertia: the rounds=0 bank assignment (a literal-
    # centroid argmin measured 2× slower — 256 compiled cells)
    init = (
        kmeans_assign_grouped(
            sq, n_groups=PQ_M, vec_col="emb16", k=PQ_K, rounds=0,
            dims=_EMB_DIMS // PQ_M,
        )
        .groupBy("g")
        .agg(F.sum("dist_sq").cast("long").alias("inertia_init"))
    )
    trained = (
        kmeans_assign_grouped(
            sq, n_groups=PQ_M, vec_col="emb16", k=PQ_K, rounds=2,
            dims=_EMB_DIMS // PQ_M,
        )
        .groupBy("g")
        .agg(F.sum("dist_sq").cast("long").alias("inertia_trained"))
    )
    return init.join(trained, "g").select(
        F.col("g").cast("int").alias("subspace"),
        "inertia_init",
        "inertia_trained",
        F.expr(
            "1000 - (1000 * inertia_trained) DIV inertia_init"
        ).alias("gain_permille"),
    )


@register(
    "sim_topk_ivf_trained",
    f"""
    WITH cent0 AS (
      SELECT i // 64 AS c, list(
               ((1103515245 * (7919 + i) + 12345) % 2147483648) % 2001 - 1000
               ORDER BY i) AS cv
      FROM unnest(generate_series(0, {_IVF_CELLS} * 64 - 1)) AS t(i)
      GROUP BY 1),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
      FROM embeddings),
    {_km_assign_sql("cent0", "a0")},
    {_km_update_sql("a0", "cent0", "cent1")},
    {_km_assign_sql("cent1", "a1")},
    {_km_update_sql("a1", "cent1", "cent2")},
    {_km_assign_sql("cent2", "afinal")},
    idx AS (
      SELECT vec_id, qv, CAST(cluster AS BIGINT) AS cell,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS nsq
      FROM afinal),
    scored AS (
      SELECT a.vec_id AS query_id, a.cell, b.vec_id AS neighbor_id,
             list_dot_product(a.qv, b.qv)
               / sqrt(CAST(a.nsq AS DOUBLE) * CAST(b.nsq AS DOUBLE)) AS cos_sim
      FROM idx a JOIN idx b
        ON a.cell = b.cell AND a.vec_id != b.vec_id
      WHERE a.vec_id < 10)
    SELECT query_id, cell, neighbor_id, cos_sim,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
    WHERE rn <= 5
    """,
)
def sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer — sim_topk_ivf with the
    data-free LCG cells replaced by the 2-round k-means cells
    (sim_kmeans_clusters' exact assignment): the index and every query
    use the nearest TRAINED centroid, search stays the same cell-id
    equi-join. Completes the index-training story next to sim_pq_train
    (coarse quantizer trained here, fine quantizer there; real IVF-PQ
    trains both). Balanced trained cells also mean the per-cell
    candidate lists even out — the practical reason FAISS trains the
    coarse level.

    Scale: the k-means subplan is the lazy broadcast-bank shape; the
    search is the bounded-query broadcast equi-join every IVF query
    pins. Same output columns as the untrained variant, so the two
    diff directly."""
    from ..functions import vectors as V
    from ..operators.iterative import materialize, resolve_reliable
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, k=_IVF_CELLS, rounds=2, with_vec=True, dims=_EMB_DIMS)
    idx = asg.select(
        "vec_id",
        "qv",
        F.col("cluster").cast("long").alias("cell"),
        V.dot_int(F.col("qv"), F.col("qv")).alias("nsq"),
    )
    # idx feeds BOTH join sides: unmaterialized, the whole 2-round Lloyd
    # chain (quantize + per-round bank aggregate + assign HOFs over the
    # corpus) re-evaluates per side — the expensive work is NARROW, so
    # exchange reuse cannot dedupe it (the triangle_count/cdc decision
    # rule, PROBES.md r15). One eager checkpoint of the small (id, qv,
    # cell, nsq) index; same-load A/B at sf0.1: 2.7 -> 2.2 s steady.
    idx = materialize(idx, resolve_reliable(spark, None), strip=False)
    a = idx.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("query_qv"),
        "cell",
        F.col("nsq").alias("query_nsq"),
    )
    b = idx.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("neighbor_qv"),
        "cell",
        F.col("nsq").alias("neighbor_nsq"),
    )
    joined = b.join(F.broadcast(a), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = V.dot_int(F.col("query_qv"), F.col("neighbor_qv")).cast(
        "double"
    ) / F.sqrt(
        F.col("query_nsq").cast("double")
        * F.col("neighbor_nsq").cast("double")
    )
    scored = joined.select(
        "query_id", "cell", "neighbor_id", sim.alias("cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )


# --------------------------------------------------------------------------
# sample-trained PQ (r14, VERDICT r13 #4) — the production training dial
# --------------------------------------------------------------------------

from ..operators.cache import PlanCache

_PQ_SAMPLE_N = 256  # 16×k train points per FAISS's clustering heuristics

# plan-identity-aware ownership for the training sample + trained cells
# (operators/cache.py, shared pattern with the quality trainer): a
# re-invocation over the same corpus keeps the caches hot (persist()
# dedupes), a different corpus evicts the previous run's blocks
_PQ_SAMPLE_CACHE = PlanCache()


def _pq_sample(emb: DataFrame) -> DataFrame:
    """The deterministic md5-rank training sample: lowest
    _PQ_SAMPLE_N vec_ids by md5(vec_id) (vec_id tiebreak) — a fixed-
    SIZE sample, so training cost is independent of corpus size. Lazily
    persist()ed: the 4 subspaces × 2 Lloyd rounds all re-enter the
    sample, and without the cache each re-entry would re-scan and
    re-top-K the corpus."""
    s = emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id").limit(
        _PQ_SAMPLE_N
    )
    _PQ_SAMPLE_CACHE.begin(s, _PQ_SAMPLE_N)
    return _PQ_SAMPLE_CACHE.register(s.persist())


def _pq_sq_sql(s: int) -> str:
    """Quantized 16-dim slice of subspace s over the SAMPLE, named
    sq{s} (the sampled twin of _pq_q_sql)."""
    return (
        f"sq{s} AS (SELECT vec_id, list_transform("
        f"embedding[{s * 16 + 1}:{(s + 1) * 16}],"
        " x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv"
        " FROM samp)"
    )


def _pq_train_sampled_subspace_sql(s: int) -> str:
    """Two unrolled Lloyd rounds over the SAMPLE + the apply pass over
    the full corpus for one subspace; emits out{s}."""
    return f"""
    {_pq_sq_sql(s)},
    {_pq_assign_sql(f"sq{s}", "pcent0", f"spa0_{s}")},
    {_pq_update_sql(f"spa0_{s}", "pcent0", f"spcent1_{s}")},
    {_pq_assign_sql(f"sq{s}", f"spcent1_{s}", f"spa1_{s}")},
    {_pq_update_sql(f"spa1_{s}", f"spcent1_{s}", f"spcent2_{s}")},
    {_pq_assign_sql(f"sq{s}", f"spcent2_{s}", f"spa2_{s}")},
    scells{s} AS (
      SELECT cluster, d, su // n - 40000 AS cval, n AS n_train
      FROM (SELECT cluster, d, SUM(qv[d + 1] + 40000) AS su,
                   COUNT(*) AS n
            FROM spa2_{s} CROSS JOIN unnest(generate_series(0, 15)) AS t(d)
            GROUP BY cluster, d)),
    tc{s} AS (SELECT cluster AS c, list(cval ORDER BY d) AS cv
              FROM scells{s} GROUP BY cluster),
    {_pq_q_sql(s)},
    {_pq_assign_sql(f"qs{s}", f"tc{s}", f"fa{s}")},
    fcnt{s} AS (SELECT cluster, COUNT(*) AS n_full
                FROM fa{s} GROUP BY cluster),
    out{s} AS (
      SELECT CAST({s} AS INTEGER) AS subspace,
             CAST(c.cluster AS INTEGER) AS cluster,
             CAST(c.d AS INTEGER) AS d,
             CAST(c.cval AS BIGINT) AS cval,
             CAST(c.n_train AS BIGINT) AS n_train,
             CAST(COALESCE(f.n_full, 0) AS BIGINT) AS n_assigned_full
      FROM scells{s} c LEFT JOIN fcnt{s} f USING (cluster))"""


@register(
    "sim_pq_train_sampled",
    "WITH pcent0 AS (\n"
    "      SELECT i // 16 AS c, list(\n"
    "               ((1103515245 * (7919 + i) + 12345) % 2147483648)"
    " % 2001 - 1000\n"
    "               ORDER BY i) AS cv\n"
    "      FROM unnest(generate_series(0, 255)) AS t(i)\n"
    "      GROUP BY 1),\n"
    "    samp AS (SELECT vec_id, embedding FROM embeddings\n"
    "             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id\n"
    "             LIMIT 256),"
    + ",".join(_pq_train_sampled_subspace_sql(s) for s in range(4))
    + """
    SELECT * FROM out0
    UNION ALL SELECT * FROM out1
    UNION ALL SELECT * FROM out2
    UNION ALL SELECT * FROM out3
    """,
)
def sim_pq_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-TRAINED PQ codebooks — the production dial sim_pq_train
    lacks (r13 verdict 'What's wrong #3': nobody trains a codebook on
    100 TB; FAISS trains on a bounded sample then add()s the corpus):
    a fixed-size deterministic sample (lowest 256 vec_ids by
    md5(vec_id), vec_id tiebreak — 16×k points, FAISS's clustering
    floor) runs the SAME 2-round per-subspace Lloyd machinery as
    sim_pq_train, and the trained codebook is then APPLIED to the full
    corpus in one assignment pass (kmeans_assign_cells_grouped). Output per
    (subspace, cluster, d): the trained cval, n_train (sample members)
    and n_assigned_full (full-corpus occupancy under the trained
    codebook) — the sampled codebook plus the evidence of how it loads
    at corpus scale.

    Scale: every Lloyd assignment pass runs over the PERSISTED 256-row
    sample — training cost is INDEPENDENT of corpus size (the fixed
    sample is one TakeOrdered top-K pass, then cached); the full corpus
    is touched by exactly ONE pass: a posexplode into (subspace,
    16-dim slice) rows assigned against the broadcast trained bank of
    all 4 subspace codebooks at once (the add() pass — unavoidable and
    linear), vs sim_pq_train's rounds×subspaces full-corpus passes.
    Both training and apply are the GROUPED one-plan shape
    (kmeans_assign_grouped / kmeans_assign_cells_grouped, r14 verdict
    #4): one subspace-keyed Lloyd chain over the exploded sample
    replaces 4 near-identical per-subspace chains — per-subspace
    results identical by the grouped operators' parity contract, fixed
    plan/codegen cost ÷4 (measured 7.4 s → ~2.5 s at sf0.1).
    tests/test_llm_ops.py pins the pass-count claim on the physical
    plan (InMemoryTableScan-fed training subtree, ONE corpus scan)."""
    from ..operators.similarity import (
        KMEANS_MEAN_OFFSET,
        PQ_K,
        PQ_M,
        kmeans_assign_cells_grouped,
        kmeans_assign_grouped,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    samp = _pq_sample(emb)
    off = KMEANS_MEAN_OFFSET
    asg = kmeans_assign_grouped(
        _pq_explode_slices(samp),
        n_groups=PQ_M,
        vec_col="emb16",
        k=PQ_K,
        rounds=2,
        with_vec=True,
        dims=_EMB_DIMS // PQ_M,
    )
    cells = (
        asg.select("g", "cluster", F.posexplode("qv").alias("d", "v"))
        .groupBy("g", "cluster", "d")
        .agg(
            F.sum(F.col("v") + F.lit(off)).alias("su"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "g",
            "cluster",
            "d",
            (F.expr("su DIV n") - F.lit(off)).alias("cval"),
            F.col("n").alias("n_train"),
        )
        # lazily persist the ≤4×k×16-row trained codebook: it feeds
        # BOTH the output rows and the apply pass's bank, and the cache
        # guarantees the training chain executes once; same one-slot
        # ownership as the sample.
        .persist()
    )
    _PQ_SAMPLE_CACHE.register(cells)
    fa = kmeans_assign_cells_grouped(
        _pq_explode_slices(emb),
        cells.select("g", "cluster", "d", "cval"),
        k=PQ_K,
        vec_col="emb16",
    )
    fcnt = fa.groupBy("g", "cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_full")
    )
    return cells.join(fcnt, ["g", "cluster"], "left").select(
        F.col("g").cast("int").alias("subspace"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("d").cast("int").alias("d"),
        F.col("cval").cast("long").alias("cval"),
        F.col("n_train").cast("long").alias("n_train"),
        F.coalesce(F.col("n_full"), F.lit(0).cast("long")).alias(
            "n_assigned_full"
        ),
    )
