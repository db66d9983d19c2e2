"""Curation wave 4: importance resampling, semantic dedup, and
content-defined chunking — the remaining standard tools of a large-scale
training-data pipeline, re-expressed Spark-first with bit-level DuckDB
oracles.

Cross-engine determinism uses the proven idioms from curation.py /
vectors.py: md5-prefix hex windows for hashing (identical in Spark and
DuckDB, unlike xxhash64), doubles rounded before any argmin/threshold
decision, and identical column aliases both sides.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from river_spark.operators.similarity import dot
from river_spark.queries.relational import q
from river_spark.queries.tables import spread_scan, tbl
from river_spark.queries.vectors import first_centroids, nearest_centroid


@q(
    "pipeline_dsir_weights",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    uni AS (
        SELECT doc_id, t[i] AS f
        FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)),
    bi AS (
        SELECT doc_id, t[i] || '_' || t[i+1] AS f
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
    feats AS (
        SELECT doc_id, CAST(('0x' || substr(md5(f), 5, 4)) AS INT) % 256 AS b
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    bc AS (
        SELECT b,
               sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS tb,
               sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS rb
        FROM feats GROUP BY b),
    tot AS (SELECT sum(tb) AS tt, sum(rb) AS rt FROM bc),
    lam AS (
        SELECT b, ln((tb + 1.0) / (tt + 256)) - ln((rb + 1.0) / (rt + 256)) AS lam
        FROM bc, tot),
    dcnt AS (
        SELECT doc_id, b, count(*) AS c
        FROM feats WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
    w AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats, sum(c * lam) AS logw
        FROM dcnt JOIN lam USING (b) GROUP BY doc_id)
    SELECT doc_id, n_feats, round(logw, 6) AS log_weight
    FROM w ORDER BY logw DESC, doc_id LIMIT 100
    """,
    tags=("pipeline", "dsir", "sampling"),
)
def pipeline_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public): hashed n-gram
    bag-of-features (unigrams + bigrams into 256 md5 buckets), bucket
    multinomials for a target slice (every 10th doc) vs the raw pool
    (Laplace +1 smoothing), and per-raw-doc log importance weight
    log w = Σ_features [ln p_target(b) - ln p_raw(b)]. Top-100 raw docs
    by weight — the resampling shortlist.

    100 TB posture: exactly two scans/tokenize passes (bucket stats,
    then per-doc counts — DSIR is two-pass by construction; production
    would estimate the stats from a sample), with unigrams+bigrams fused
    into one in-row concat per pass and the feature totals taken as a
    window over the fixed 256-row bucket table (no third pass, no cross
    join). The 256-row λ table broadcasts into the per-doc join; heavy
    shuffles are the two partial-aggregated groupBys on bounded keys
    (256 buckets; doc_id×256). Weight math is double ln on identical
    integer ratios, rounded to 6 only at output — ordering uses the raw
    double."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    # unigrams + bigrams fused into ONE in-row concat before the explode,
    # so each of the two DSIR passes costs a single scan + tokenize
    # (separate uni/bi branches would double every scan)
    feats = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat(t, if(size(t) < 2, array(), "
                "transform(sequence(0, size(t) - 2), i -> concat(t[i], '_', t[i+1]))))"
            )
        ).alias("f"),
    ).select(
        "doc_id",
        (F.conv(F.substring(F.md5("f"), 5, 4), 16, 10).cast("int") % 256).alias("b"),
    )
    bc = feats.groupBy("b").agg(
        F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0)).alias("tb"),
        F.sum(F.when(F.col("doc_id") % 10 != 0, 1).otherwise(0)).alias("rb"),
    )
    # feature totals via an unpartitioned window over the 256-row bucket
    # table (fixed size at any corpus scale) — a separate bc.agg() would
    # re-execute the whole feature scan a third time
    wall = Window.partitionBy()
    lam = bc.select(
        "b",
        "tb",
        "rb",
        F.sum("tb").over(wall).alias("tt"),
        F.sum("rb").over(wall).alias("rt"),
    ).select(
        "b",
        (
            F.log((F.col("tb") + 1.0) / (F.col("tt") + 256))
            - F.log((F.col("rb") + 1.0) / (F.col("rt") + 256))
        ).alias("lam"),
    )
    dcnt = (
        feats.filter(F.col("doc_id") % 10 != 0)
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )
    w = (
        dcnt.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.sum(F.col("c") * F.col("lam")).alias("logw"),
        )
    )
    return (
        w.orderBy(F.desc("logw"), "doc_id")
        .limit(100)
        .select("doc_id", "n_feats", F.round("logw", 6).alias("log_weight"))
    )


@q(
    "emb_semdedup",
    oracle="""
    WITH c AS (
        SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8),
    d AS (
        SELECT e.vec_id, c.c_id, e.embedding::DOUBLE[] AS v,
               round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                     - 2 * list_dot_product(e.embedding::DOUBLE[], c.cv)
                     + list_dot_product(c.cv, c.cv), 6) AS dist2
        FROM embeddings e CROSS JOIN c),
    assign AS (
        SELECT vec_id, c_id AS cluster_id, v FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
            FROM d) WHERE rn = 1),
    pair AS (
        SELECT b.vec_id, b.cluster_id,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        FROM assign a JOIN assign b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
    SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           max(cos) AS max_cos,
           CAST(count(*) AS BIGINT) AS n_closer
    FROM pair WHERE cos >= 0.3
    GROUP BY vec_id, cluster_id
    """,
    tags=("vector", "dedup", "semdedup"),
)
def emb_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication" — public): cluster the
    embedding space, then compare pairs only WITHIN a cluster and drop
    every vector that has a lower-id cluster-mate above the cosine
    threshold (keep-lowest-id greedy — the paper's keep-one-per-group).
    Returns the dropped vectors with their cluster and strongest match.
    Centroids are the deterministic first-8 vectors (one Lloyd
    assignment step, same as emb_cluster_assign) so the whole result is
    SQL-checkable; cosines are rounded to 6 BEFORE the threshold so ulp
    drift can't flip a drop decision.

    100 TB posture: this is the SemDeDup shape — K grows with corpus
    size so cluster width stays bounded, making the in-cluster self-join
    the only quadratic stage, quadratic ONLY in bounded cluster width.
    The K-row centroid table is broadcast; the self-join shuffles
    co-partitioned on cluster_id."""
    emb = tbl(spark, sf_dir, "embeddings")
    # r15: per-row norms factored out of the per-PAIR cosine (the one
    # site the round's norm-factoring pass missed): the in-cluster
    # self-join emits ~|cluster|² pairs and the old shape ran THREE
    # interpreted array folds per pair; the norm fold is per-row data,
    # computed once here. Bit-identical — dot(v, v) is the same fold on
    # the same values, sqrt/product/round order unchanged.
    assign = (
        nearest_centroid(emb, first_centroids(emb), "embedding")
        .select(
            "vec_id",
            F.col("c_id").alias("cluster_id"),
            F.col("embedding").alias("v"),
            dot(F.col("embedding"), F.col("embedding")).alias("nv"),
        )
    )
    a = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("nv").alias("na"),
    )
    b = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("vec_id"),
        F.col("v").alias("bv"),
        F.col("nv").alias("nb"),
    )
    cos = F.round(
        dot(F.col("av"), F.col("bv"))
        / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))),
        6,
    )
    pair = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("vec_id"))
        .select("vec_id", "cluster_id", cos.alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )
    return pair.groupBy("vec_id", "cluster_id").agg(
        F.max("cos").alias("max_cos"), F.count("*").cast("long").alias("n_closer")
    ).select("vec_id", F.col("cluster_id").cast("long").alias("cluster_id"), "max_cos", "n_closer")


@q(
    "text_cdc_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    tk AS (
        SELECT doc_id, i AS pos, t[i] AS tok
        FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)),
    fl AS (
        SELECT doc_id, pos, tok,
               CASE WHEN CAST(('0x' || substr(md5(tok), 1, 4)) AS INT) % 16 = 0
                    THEN 1 ELSE 0 END AS f
        FROM tk),
    ch AS (
        SELECT doc_id, pos, tok,
               COALESCE(sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_no
        FROM fl)
    SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
    FROM ch GROUP BY doc_id, chunk_no
    """,
    tags=("text", "chunking", "cdc"),
)
def text_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (Rabin/Gear-style CDC, token
    granularity): a token whose hash lands in 1/16 of the space ENDS a
    chunk, so chunk boundaries depend only on LOCAL content — insert a
    token anywhere and only its own chunk's boundaries move, unlike
    fixed-size chunking where everything downstream shifts (the
    dedup-stability property CDC exists for). Chunk ids are exclusive
    prefix sums of the boundary flags; chunk content is verified by md5
    of the space-joined tokens.

    100 TB posture: one tokenize + one window per doc (spillable row
    buffer, partitioned by doc) + one groupBy on (doc, chunk) that
    reuses the window's partitioning. The boundary hash is an md5-prefix
    window — chosen for cross-engine verifiability; production would use
    xxhash64 for speed, same plan shape."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    tk = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    flag = F.when(
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % 16 == 0, 1
    ).otherwise(0)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ch = tk.withColumn("f", flag).withColumn(
        "chunk_no", F.coalesce(F.sum("f").over(w), F.lit(0)).cast("long")
    )
    return (
        ch.groupBy("doc_id", "chunk_no")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("chunk_md5"),
        )
    )


@q(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, substring(lower(text), i, 1) AS c
        FROM documents, UNNEST(generate_series(1, len(text))) AS g(i)),
    cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
    agg AS (SELECT doc_id, sum(k) AS l, sum(k * ln(k)) AS s FROM cnt GROUP BY 1)
    SELECT doc_id, CAST(l AS BIGINT) AS n_chars,
           round(ln(l) - s / l, 6) AS char_entropy
    FROM agg
    """,
    tags=("text", "quality", "entropy"),
)
def text_char_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy — the classic cheap
    gibberish/boilerplate detector (low entropy = repeated filler, high
    entropy = encrypted/binary junk). Uses the aggregation identity
    H = ln L - (Σ k·ln k)/L so the whole thing is two hash aggregations
    with map-side partials — no per-doc arrays, no window, no sort.
    Characters come from identical substring arithmetic on both engines
    (split-on-empty-string differs between them)."""
    # spread_scan (r15): the char explode multiplies each doc into ~3k
    # rows inside the scan stage itself — one parquet row group at bench
    # SFs means ~15M substring() calls on a single task (measured 4.0 s,
    # 31 cores idle). A no-op at real scale where the scan splits.
    docs = spread_scan(
        tbl(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    ch = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(length(text) < 1, array(), "
                "transform(sequence(1, length(text)), i -> substring(lower(text), i, 1)))"
            )
        ).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("k").alias("l"), F.sum(F.col("k") * F.log("k")).alias("s")
    )
    return agg.select(
        "doc_id",
        F.col("l").cast("long").alias("n_chars"),
        F.round(F.log("l") - F.col("s") / F.col("l"), 6).alias("char_entropy"),
    )
