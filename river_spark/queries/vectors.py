"""Vector similarity over the ``embeddings`` table (array<float>, dim 64).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed
variant (operators/similarity.py) is the 100 TB path. Dot products stay
JVM-side via ``aggregate``/``zip_with`` higher-order functions — no
Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from river_spark.operators.similarity import dot, norm, top_k
from river_spark.queries.relational import q
from river_spark.queries.tables import tbl


def first_centroids(emb):
    """Broadcast centroid table (c_id, cv): the first 8 vectors by id, a
    deterministic init that keeps an assignment SQL-checkable."""
    return F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")
        )
    )


def nearest_centroid(emb, cents, *carry):
    """One Lloyd assignment step: every ``emb`` row (vec_id, embedding)
    keeps its nearest row of the broadcast centroid table ``cents``
    (c_id, cv). Squared distance expands to the three dot folds and is
    rounded to 6 before the argmin, so ulp drift cannot flip an
    assignment; ties break on c_id. Returns
    [vec_id, c_id, *carry, dist2], ``carry`` naming ``emb`` columns."""
    e, c = F.col("embedding"), F.col("cv")
    dist2 = F.round(dot(e, e) - 2 * dot(e, c) + dot(c, c), 6)
    d = emb.crossJoin(cents).select("vec_id", "c_id", *carry, dist2.alias("dist2"))
    return top_k(d, "vec_id", ["dist2", "c_id"], 1)


@q(
    "emb_knn_cosine",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    s AS (SELECT vec_id, label,
                 list_dot_product(embedding::DOUBLE[], qe)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qe, qe))) AS cos
          FROM embeddings, q WHERE vec_id <> 0)
    SELECT vec_id, label, round(cos, 6) AS cos_sim
    FROM s ORDER BY cos DESC, vec_id LIMIT 10
    """,
    tags=("vector", "knn"),
    bench=True,
)
def emb_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-10 for the vec_id=0 query vector. The query
    row is broadcast; the scan is embarrassingly parallel; top-k is
    TakeOrderedAndProject (no full sort)."""
    emb = tbl(spark, sf_dir, "embeddings")
    # query-side norm factored into the (1-row, broadcast) projection so
    # the per-corpus-row cosine folds the query vector once, not three
    # times (bit-identical value — same ops, same order)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), norm(F.col("embedding")).alias("qn")
    )
    cos = dot(F.col("embedding"), F.col("qe")) / (
        norm(F.col("embedding")) * F.col("qn")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .withColumn("_cos", cos)
        .orderBy(F.desc("_cos"), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("_cos", 6).alias("cos_sim"))
    )


@q(
    "emb_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
    FROM embeddings
    """,
    tags=("vector",),
)
def emb_norms(spark, sf_dir):
    return tbl(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.round(norm(F.col("embedding")), 6).alias("l2_norm")
    )


@q(
    "emb_centroid_norms",
    oracle="""
    WITH e AS (
        SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
    c AS (SELECT label, pos, avg(val) AS m FROM e GROUP BY label, pos)
    SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm, n
    FROM c JOIN (SELECT label AS l2, count(*) AS n FROM embeddings GROUP BY 1) t
      ON label = l2
    GROUP BY label, n
    """,
    tags=("vector", "agg"),
)
def emb_centroid_norms(spark, sf_dir):
    """Per-label centroid: posexplode → per-dimension mean → norm.
    Shuffles (label, pos) pairs — dimension-parallel, so wide vectors
    don't bottleneck a single reducer at scale."""
    emb = tbl(spark, sf_dir, "embeddings")
    e = emb.select("label", F.posexplode("embedding").alias("pos", "val")).withColumn(
        "val", F.col("val").cast("double")
    )
    c = e.groupBy("label", "pos").agg(F.avg("val").alias("m"))
    n = emb.groupBy("label").agg(F.count("*").alias("n"))
    return (
        c.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"))
        .join(F.broadcast(n), "label")
        .select("label", "centroid_norm", "n")
    )


@q(
    "emb_cluster_assign",
    oracle="""
    WITH c AS (
        SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8),
    d AS (
        SELECT e.vec_id, c.c_id,
               round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                     - 2 * list_dot_product(e.embedding::DOUBLE[], c.cv)
                     + list_dot_product(c.cv, c.cv), 6) AS dist2
        FROM embeddings e CROSS JOIN c),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
        FROM d)
    SELECT c_id AS cluster_id,
           count(*) AS n_members,
           CAST(min(vec_id) AS BIGINT) AS min_member,
           round(avg(dist2), 4) AS avg_dist2
    FROM r WHERE rn = 1 GROUP BY c_id
    """,
    tags=("vector", "cluster"),
)
def emb_cluster_assign(spark, sf_dir):
    """Deterministic-centroid clustering: every vector is assigned to the
    nearest of K fixed centroids (the first 8 vectors by id — one Lloyd
    assignment step with deterministic init, so the full assignment is
    SQL-checkable, unlike free-running KMeans). Squared distance expands
    to dot products (the cross-engine-proven primitive from
    emb_knn_cosine), rounded before the argmin so ulp drift can't flip
    an assignment; ties break on centroid id.

    100 TB posture: the K-row centroid table is broadcast (the IVF
    operator's routing join, operators/similarity.py, is the same
    shape); per-vector work is K dot products, and the only shuffles are
    the per-vector argmin window and the cluster-stats aggregation."""
    emb = tbl(spark, sf_dir, "embeddings")
    return (
        nearest_centroid(emb, first_centroids(emb))
        .groupBy(F.col("c_id").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("vec_id").cast("long").alias("min_member"),
            F.round(F.avg("dist2"), 4).alias("avg_dist2"),
        )
    )


@q(
    "emb_quantize_int8",
    oracle="""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               list_min(embedding)::DOUBLE AS mn,
               list_max(embedding)::DOUBLE AS mx
        FROM embeddings),
    enc AS (
        SELECT vec_id, mn, mx,
               CASE WHEN mx = mn THEN list_transform(e, x -> 0)
                    ELSE list_transform(e, x ->
                        CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS INT))
               END AS codes,
               e
        FROM base)
    SELECT vec_id,
           round(mn, 6) AS qmin, round(mx, 6) AS qmax,
           md5(array_to_string(codes, ',')) AS codes_md5,
           round(list_sum(list_transform(list_zip(e, codes), p ->
                 abs(p[1] - (mn + p[2] * (CASE WHEN mx = mn THEN 0.0
                                          ELSE (mx - mn) / 255.0 END))))) / len(e),
                 6) AS recon_mae
    FROM enc
    """,
    tags=("vector", "quantize"),
)
def emb_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization of the embedding column — the standard
    4x vector-store compression before ANN serving (asymmetric per-vector
    min/max codes, as in FAISS's SQ8). Codes use explicit
    floor(x + 0.5) so both engines round identically; the md5 of the
    code array pins the full encode bit-level, and recon_mae bounds the
    dequantization error. All JVM higher-order functions; zero shuffles
    — embarrassingly parallel over vectors.

    At 100 TB the same expression runs as a projection inside whatever
    scan feeds the ANN index build: no extra pass, no Python."""
    base = tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        F.expr("cast(array_min(embedding) as double)").alias("mn"),
        F.expr("cast(array_max(embedding) as double)").alias("mx"),
    )
    enc = base.select(
        "vec_id",
        "mn",
        "mx",
        "e",
        F.expr(
            "CASE WHEN mx = mn THEN transform(e, x -> 0) "
            "ELSE transform(e, x -> cast(floor((x - mn) * 255.0 / (mx - mn) + 0.5) as int)) END"
        ).alias("codes"),
    )
    mae = F.expr(
        "aggregate(zip_with(e, codes, (x, c) -> "
        "abs(x - (mn + c * (CASE WHEN mx = mn THEN 0.0D ELSE (mx - mn) / 255.0D END)))), "
        "0.0D, (acc, v) -> acc + v) / size(e)"
    )
    return enc.select(
        "vec_id",
        F.round("mn", 6).alias("qmin"),
        F.round("mx", 6).alias("qmax"),
        F.md5(F.concat_ws(",", F.col("codes").cast("array<string>")).cast("binary")).alias(
            "codes_md5"
        ),
        F.round(mae, 6).alias("recon_mae"),
    )


@q(
    "emb_pq_codes",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS k, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 4),
    m AS (SELECT unnest(generate_series(0, 3)) AS m),
    d AS (
        SELECT e.vec_id, m.m, c.k,
               round(list_sum(list_transform(
                   list_zip(e.v[m.m*16+1:m.m*16+16], c.v[m.m*16+1:m.m*16+16]),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist2
        FROM e CROSS JOIN m CROSS JOIN c),
    best AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist2, k) AS rn
            FROM d) WHERE rn = 1)
    SELECT vec_id,
           CAST(max(CASE WHEN m = 0 THEN k END) AS INT) AS code0,
           CAST(max(CASE WHEN m = 1 THEN k END) AS INT) AS code1,
           CAST(max(CASE WHEN m = 2 THEN k END) AS INT) AS code2,
           CAST(max(CASE WHEN m = 3 THEN k END) AS INT) AS code3
    FROM best GROUP BY vec_id
    """,
    tags=("vector", "pq"),
)
def emb_pq_codes(spark, sf_dir):
    """Product-quantization codebook assignment (the FAISS IVF-PQ
    building block): the 64-dim space splits into 4 subspaces of 16
    dims; each subvector takes the id of its nearest codebook centroid
    (deterministic codebook: the first 4 vectors, so both engines derive
    it from data — at production scale the codebook comes from a
    trained k-means and broadcasts identically).

    Shape: vectors explode to (vec_id, m, subvector) rows; the M x K =
    16-row subspace codebook broadcasts; distances compute map-side on
    the equi-join by subspace; argmin is min(struct(dist2, k)) — a
    partial-aggregation-friendly tie-deterministic argmin, no window
    over the corpus. Output is 4 int8-range codes per vector: 64 floats
    -> 4 bytes, the 64x compression PQ exists for."""
    M, S, K = 4, 16, 4
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    subs = F.expr(f"transform(sequence(0, {M - 1}), m -> slice(v, m * {S} + 1, {S}))")
    sub_e = emb.select("vec_id", F.posexplode(subs).alias("m", "sv"))
    sub_c = (
        emb.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").alias("k"), F.posexplode(subs).alias("m", "cv"))
    )
    dist2 = F.round(
        F.aggregate(
            F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    d = sub_e.join(F.broadcast(sub_c), "m").select(
        "vec_id", "m", "k", dist2.alias("dist2")
    )
    best = d.groupBy("vec_id", "m").agg(
        F.min(F.struct("dist2", "k")).getField("k").alias("code")
    )
    return best.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("code")))
            .cast("int")
            .alias(f"code{m}")
            for m in range(M)
        ]
    )


@q(
    "emb_matryoshka_truncate",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    t AS (
        SELECT vec_id, v[1:16] AS tv FROM e),
    n AS (
        SELECT vec_id, tv,
               sqrt(list_sum(list_transform(tv, x -> x * x))) AS nrm
        FROM t)
    SELECT vec_id,
           round(nrm, 6) AS trunc_norm,
           round(CASE WHEN nrm = 0 THEN 0.0 ELSE tv[1] / nrm END, 6) AS unit_d0,
           round(CASE WHEN nrm = 0 THEN 0.0 ELSE tv[16] / nrm END, 6) AS unit_d15,
           CAST(len(tv) AS INT) AS trunc_dim
    FROM n
    """,
    tags=("vector", "matryoshka"),
)
def emb_matryoshka_truncate(spark, sf_dir):
    """Matryoshka-style prefix truncation: keep the first 16 of 64
    dimensions and re-normalize to unit length — the serving-time
    memory/recall trade MRL embeddings are trained for (prefix dims
    carry the coarse signal; a 4x smaller ANN index re-uses the same
    vectors). Pure projection over array slices — zero shuffles; the
    re-normalized entries are spot-checked at both ends of the prefix
    and the norm itself is verified."""
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("slice(transform(embedding, x -> cast(x as double)), 1, 16)").alias("tv"),
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("tv", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    unit = lambda i: F.round(  # noqa: E731
        F.when(F.col("nrm") == 0, F.lit(0.0)).otherwise(
            F.element_at("tv", i) / F.col("nrm")
        ),
        6,
    )
    return (
        emb.withColumn("nrm", nrm)
        .select(
            "vec_id",
            F.round(F.col("nrm"), 6).alias("trunc_norm"),
            unit(1).alias("unit_d0"),
            unit(16).alias("unit_d15"),
            F.size("tv").alias("trunc_dim"),
        )
    )
