"""Curation wave 10 (round 9): corpus-audit rollups — embedding
geometry, tokenizer-facing length profiles, duplicate-cluster shape,
and cross-source content overlap.

Bit-exactness rules (tests/test_oracle.py): histogram bands derive
from bit-identical doubles (the repo's sequential-fold dot product) or
exact integers; Jaccard is a single exact-integer division emitted
raw.

Reference parity: none — LLM-pipeline extensions per SURVEY section 2.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from river_spark.operators.similarity import dot, norm
from river_spark.queries.relational import q
from river_spark.queries.tables import tbl


@q(
    "emb_adjacent_cosine_hist",
    oracle="""
    WITH p AS (
        SELECT a.vec_id,
               list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                 AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
          AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0)
    SELECT CAST(floor(cos * 10) AS BIGINT) AS band, count(*) AS n
    FROM p GROUP BY 1
    """,
    tags=("embeddings", "geometry", "histogram"),
)
def emb_adjacent_cosine_hist(spark, sf_dir):
    """Decile-banded histogram of cosine similarity between id-adjacent
    embedding pairs — the cheap deterministic proxy for the corpus's
    pairwise-angle distribution (a healthy high-dimensional embedding
    concentrates near 0; mass near 1 flags near-duplicate runs, mass
    near -1 a sign-flip bug). The cosine uses the repo's sequential-
    fold dot product, bit-identical to DuckDB's list_dot_product on
    DOUBLE[], so the floor-band is exact.

    100 TB posture: a 1:1 equi-self-join on consecutive ids (no
    fan-out) plus one hash agg to ~21 rows — the deterministic stand-in
    for sampled-pair estimates at scale."""
    e = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = e.alias("a")
    b = e.select(
        (F.col("vec_id") - 1).alias("join_id"), F.col("embedding").alias("emb_b")
    ).alias("b")
    # zero-vector guard: a null embedding row would make norm = 0 and
    # (under ANSI) a throwing division where DuckDB yields NULL
    p = (
        a.join(b, F.col("a.vec_id") == F.col("b.join_id"))
        .filter(
            (dot(F.col("a.embedding"), F.col("a.embedding")) > 0)
            & (dot(F.col("emb_b"), F.col("emb_b")) > 0)
        )
        .select(
            (
                dot(F.col("a.embedding"), F.col("emb_b"))
                / (norm(F.col("a.embedding")) * norm(F.col("emb_b")))
            ).alias("cos")
        )
    )
    return p.groupBy(
        F.floor(F.col("cos") * 10).cast("bigint").alias("band")
    ).agg(F.count("*").alias("n"))


@q(
    "text_token_len_profile",
    oracle="""
    WITH toks AS (
        SELECT source,
               length(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS len
        FROM documents)
    SELECT source, CAST(len AS BIGINT) AS token_len, count(*) AS n
    FROM toks GROUP BY 1, 2
    """,
    tags=("text", "tokenizer", "profile"),
)
def text_token_len_profile(spark, sf_dir):
    """Token-length histogram per source — the tokenizer-facing length
    profile (a source whose length distribution shifts is a different
    tokenization cost and a different truncation rate, before any
    model sees it). Exact integer lengths and counts.

    100 TB posture: explode + one map-side-combinable hash agg to
    source x length (~hundreds of rows)."""
    toks = tbl(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    return toks.groupBy(
        "source", F.length("tok").cast("bigint").alias("token_len")
    ).agg(F.count("*").alias("n"))


@q(
    "dedup_cluster_sizes",
    oracle="""
    WITH cl AS (
        SELECT md5(text) AS h, count(*) AS cluster_size
        FROM documents GROUP BY md5(text))
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM cl GROUP BY cluster_size
    """,
    tags=("dedup", "audit", "histogram"),
)
def dedup_cluster_sizes(spark, sf_dir):
    """Exact-duplicate cluster-size histogram: how many clusters of
    each size the corpus contains and how many documents they absorb —
    the audit that distinguishes a mirror problem (few huge clusters)
    from boilerplate (many small ones) before choosing a dedup
    strategy. md5 on both engines over identical text is identical, so
    every count is exact.

    100 TB posture: hash-groupBy on the digest (text itself never
    shuffles beyond the first agg's partial), then a second tiny agg
    over cluster sizes."""
    d = tbl(spark, sf_dir, "documents").select(F.md5("text").alias("h"))
    cl = d.groupBy("h").agg(F.count("*").alias("cluster_size"))
    return cl.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("bigint").alias("n_docs"),
    )


@q(
    "pipeline_source_overlap",
    oracle="""
    WITH toks AS (
        SELECT source, regexp_split_to_array(trim(text), '\\s+') AS a
        FROM documents),
    bg AS (
        SELECT DISTINCT source, a[i] || ' ' || a[i + 1] AS bigram
        FROM toks, (SELECT unnest(range(1, 200)) AS i) t
        WHERE i < len(a)),
    sizes AS (SELECT source, count(*) AS v FROM bg GROUP BY source),
    inter AS (
        SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_inter
        FROM bg x JOIN bg y ON x.bigram = y.bigram AND x.source < y.source
        GROUP BY 1, 2)
    SELECT src_a, src_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.v + sb.v - n_inter AS BIGINT) AS n_union,
           CAST(n_inter AS DOUBLE) / (sa.v + sb.v - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON src_a = sa.source
    JOIN sizes sb ON src_b = sb.source
    """,
    tags=("pipeline", "curation", "overlap"),
)
def pipeline_source_overlap(spark, sf_dir):
    """Pairwise bigram-vocabulary Jaccard between sources — the source
    redundancy matrix that decides which feeds are worth keeping
    (unigram vocabulary is saturated on any large corpus; bigram
    overlap still separates). Intersection/union are exact integers;
    Jaccard is one IEEE division, emitted raw.

    100 TB posture: the join key is the bigram (vocabulary-bounded, so
    the per-key fan-out is at most n_sources^2, a constant), never the
    document; sizes join back on the tiny per-source table."""
    toks = tbl(spark, sf_dir, "documents").select(
        "source", F.split(F.trim("text"), r"\s+").alias("a")
    )
    bg = (
        # size >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) for a
        # single-token doc, which would emit i=0 and crash element_at;
        # the oracle's range(1, n) WHERE i < len(a) is naturally empty
        toks.filter(F.size("a") >= 2)
        .select(
            "source",
            F.explode(F.sequence(F.lit(1), F.size("a") - 1)).alias("i"),
            "a",
        )
        .select(
            "source",
            F.concat(
                F.element_at("a", F.col("i")),
                F.lit(" "),
                F.element_at("a", F.col("i") + 1),
            ).alias("bigram"),
        )
        .distinct()
    )
    sizes = bg.groupBy("source").agg(F.count("*").alias("v"))
    x = bg.alias("x")
    y = bg.select(
        F.col("source").alias("src_y"), F.col("bigram").alias("bigram_y")
    ).alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.bigram") == F.col("bigram_y"))
            & (F.col("x.source") < F.col("src_y")),
        )
        .groupBy(F.col("x.source").alias("src_a"), F.col("src_y").alias("src_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("v").alias("va"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_inter",
            (F.col("va") + F.col("vb") - F.col("n_inter")).alias("n_union"),
            (
                F.col("n_inter").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
