"""Relational wave 16 (round 8, session 4): MIPS-to-cosine reduction,
OCR-artifact detection, and preference-pair mining.

- ``emb_mips``: maximum-inner-product search via the norm-augmentation
  reduction (Bachrach et al. 2014 / Shrivastava-Li ALSH lineage) — the
  trick that lets a cosine-only ANN index answer dot-product queries.
- ``text_ocr_artifacts``: the OCR-garbage heuristics real curation
  pipelines run (RefinedWeb/Dolma-style): single-letter token runs,
  mixed alphanumeric tokens, non-printable-ASCII density.
- ``pipeline_pref_pairs``: preference-pair mining — per source, the
  i-th best document paired against the i-th worst by an integer
  quality score with a minimum margin — the data-prep step for
  preference-tuning (DPO/RLHF) corpora.

Bit-exactness rules follow tests/test_oracle.py: integer counts and
fixed-point scores; vector math is rounded to 6 decimals (the
emb_knn_cosine precedent).

Reference parity: the reference engine (pbotros/river) has no
relational layer (its surface is the stream transport,
/root/reference/cpp/src/writer.cpp); these extend the analytics surface
the brief requires.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from river_spark.operators.similarity import dot
from river_spark.queries.relational import q
from river_spark.queries.tables import tbl

_MIPS_TOPK = 10
_PREF_MIN_MARGIN = 50  # quality-score points (per-mille lexical diversity)
_PREF_PAIRS_PER_SRC = 3


# ---------------------------------------------------------------------------
# MIPS via norm augmentation
# ---------------------------------------------------------------------------
@q(
    "emb_mips",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    m AS (SELECT max(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS m2
          FROM embeddings WHERE vec_id <> 0),
    s AS (SELECT vec_id, label,
                 list_dot_product(embedding::DOUBLE[], qe) AS dot,
                 sqrt(m2 - list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                     AS aug_coord
          FROM embeddings, q, m WHERE vec_id <> 0)
    SELECT vec_id, label, round(dot, 6) AS dot, round(aug_coord, 6) AS aug_coord
    FROM s ORDER BY dot DESC, vec_id LIMIT {_MIPS_TOPK}
    """,
    tags=("vector", "mips", "ann"),
)
def emb_mips(spark, sf_dir):
    """Maximum-inner-product search (top-10 by RAW dot product against
    query vec 0) through the norm-augmentation reduction: append one
    coordinate sqrt(M² − ‖v‖²) to every candidate (M = max candidate
    norm) and 0 to the query — every augmented candidate then has norm
    exactly M, so cosine in the augmented space is dot(v,q)/(M·‖q‖),
    MONOTONE in the raw dot product. That is the whole point of the
    reduction: a cosine/LSH index (emb_ann_lsh's machinery) built over
    augmented vectors answers dot-product queries with no new index
    type — recommendation scores (user·item) served by the same ANN
    path as embedding search. The emitted aug_coord is the reduction's
    witness; ordering is by raw dot with a vec_id tiebreak, and the
    oracle replays both.

    100 TB posture: M² is one scalar agg broadcast back (1-row
    crossJoin, the emb_knn_cosine idiom the plan lint bounds); the
    scoring pass is map-side zip_with/aggregate inside codegen;
    top-10 is TakeOrderedAndProject. The production path at billions
    of vectors swaps the scoring scan for the LSH bucket probe over
    augmented vectors — same algebra, bucketed."""
    emb = tbl(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cands = emb.filter(F.col("vec_id") != 0)
    m2 = cands.agg(F.max(dot(F.col("embedding"), F.col("embedding"))).alias("m2"))
    s = (
        cands.crossJoin(F.broadcast(qv))
        .crossJoin(F.broadcast(m2))
        .select(
            "vec_id",
            "label",
            dot(F.col("embedding"), F.col("qe")).alias("dot_raw"),
            F.sqrt(
                F.col("m2") - dot(F.col("embedding"), F.col("embedding"))
            ).alias("aug_raw"),
        )
    )
    return (
        s.select(
            "vec_id",
            "label",
            F.round(F.col("dot_raw"), 6).alias("dot"),
            F.round(F.col("aug_raw"), 6).alias("aug_coord"),
        )
        .orderBy(F.col("dot_raw").desc(), "vec_id")
        .limit(_MIPS_TOPK)
    )


# ---------------------------------------------------------------------------
# OCR-artifact heuristics
# ---------------------------------------------------------------------------
@q(
    "text_ocr_artifacts",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
               CAST(len(regexp_extract_all(text, '[^ -~]')) AS BIGINT) AS n_nonascii
        FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> length(x) = 1 AND regexp_matches(x, '^[a-z]$')))
                AS BIGINT) AS n_single_alpha,
           CAST(len(list_filter(toks,
                x -> regexp_matches(x, '[a-z].*[0-9]|[0-9].*[a-z]')))
                AS BIGINT) AS n_mixed_alnum,
           n_nonascii,
           (2 * len(list_filter(toks, x -> regexp_matches(x, '[a-z].*[0-9]|[0-9].*[a-z]')))
            + len(list_filter(toks, x -> length(x) = 1 AND regexp_matches(x, '^[a-z]$')))
            + n_nonascii) * 1.0
           / greatest(len(toks), 1) AS artifact_score
    FROM t
    """,
    tags=("text", "quality", "ocr"),
)
def text_ocr_artifacts(spark, sf_dir):
    """OCR/extraction-artifact heuristics per document — the garbage
    detectors web-scale curation pipelines gate on before any model
    sees the text: single-letter alpha tokens (broken kerning:
    'q u a l i t y'), mixed alphanumeric tokens ('qua1ity', 'l0rem' —
    classic OCR confusions), and non-printable-ASCII density (encoding
    damage). All counts are integer regex counts (the mixed-token test
    is written WITHOUT lookahead so Java and RE2 regex agree); the
    composite score is one exact integer-ratio division weighting
    mixed tokens double.

    100 TB posture: zero shuffles — per-row regex filters over the
    token array inside codegen; composes into the fused curation gate
    plan like text_readability."""
    t = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
        F.regexp_count(F.col("text"), F.lit("[^ -~]")).cast("bigint").alias("n_nonascii"),
    )
    single = F.size(
        F.expr("filter(toks, x -> length(x) = 1 AND x rlike '^[a-z]$')")
    ).cast("bigint")
    mixed = F.size(
        F.expr("filter(toks, x -> x rlike '[a-z].*[0-9]|[0-9].*[a-z]')")
    ).cast("bigint")
    n_tok = F.size("toks").cast("bigint")
    return t.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        single.alias("n_single_alpha"),
        mixed.alias("n_mixed_alnum"),
        "n_nonascii",
        (
            (2 * mixed + single + F.col("n_nonascii")) * 1.0
            / F.greatest(n_tok, F.lit(1))
        ).alias("artifact_score"),
    )


# ---------------------------------------------------------------------------
# Preference-pair mining
# ---------------------------------------------------------------------------
@q(
    "pipeline_pref_pairs",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source,
               CAST(1000 * len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')))
                    // greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1)
                    AS BIGINT) AS q_score
        FROM documents),
    r AS (
        SELECT doc_id, source, q_score,
               row_number() OVER (PARTITION BY source ORDER BY q_score DESC, doc_id) AS rk_top,
               row_number() OVER (PARTITION BY source ORDER BY q_score ASC, doc_id DESC) AS rk_bot
        FROM s)
    SELECT a.source,
           a.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
           a.q_score AS chosen_score, b.q_score AS rejected_score,
           a.q_score - b.q_score AS margin
    FROM r a JOIN r b
      ON a.source = b.source AND a.rk_top = b.rk_bot
     AND a.rk_top <= {_PREF_PAIRS_PER_SRC}
     AND a.doc_id <> b.doc_id
     AND a.q_score - b.q_score >= {_PREF_MIN_MARGIN}
    """,
    tags=("pipeline", "preference", "training"),
)
def pipeline_pref_pairs(spark, sf_dir):
    """Preference-pair mining for DPO/RLHF-style tuning corpora: within
    each source, the i-th highest-quality document is paired against
    the i-th lowest (i <= 3), kept only when the quality margin is at
    least 5 points — the standard chosen/rejected construction when no
    human labels exist and a scalar quality score must stand in.
    Quality is an integer fixed-point (percent of purely-alphabetic
    tokens, the cheap fluency proxy); ranks use deterministic
    (score, doc_id) tiebreaks on BOTH ends so the pairing is unique;
    a document can never be paired with itself (odd-sized sources meet
    in the middle).

    100 TB posture: the score is map-side; both rank windows share ONE
    per-source partitioning (same exchange, two sort specs); the
    pairing join is an equi-join on (source, rank) over rank<=3 rows —
    six rows per source, metadata-sized."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    s = (
        tbl(spark, sf_dir, "documents")
        .withColumn("__toks", toks)
        .select(
            "doc_id",
            "source",
            F.expr(
                "CAST(1000 * size(array_distinct(__toks))"
                " div greatest(size(__toks), 1) AS BIGINT)"
            ).alias("q_score"),
        )
    )
    # round 11: source is a ~20-value key — both two-ended ranks now run
    # stitched (tie-splitting struct buckets; truncating div is monotone
    # in the negated keys, which is all the stitch needs). Row-identical
    # to the plain windows, so the oracle holds.
    from river_spark.operators.stitched_lag import stitched_row_number

    s2 = s.withColumn("neg_q", -F.col("q_score")).withColumn(
        "neg_doc", -F.col("doc_id")
    )
    r = stitched_row_number(
        stitched_row_number(
            s2,
            key_cols=["source"],
            order_cols=["neg_q", "doc_id"],
            bucket=F.struct(F.col("neg_q"), F.expr("doc_id div 4096").alias("dr")),
            out_col="rk_top",
        ),
        key_cols=["source"],
        order_cols=["q_score", "neg_doc"],
        bucket=F.struct(F.col("q_score"), F.expr("neg_doc div 4096").alias("dr")),
        out_col="rk_bot",
    ).select("doc_id", "source", "q_score", "rk_top", "rk_bot")
    a = r.alias("a")
    b = r.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.rk_top") == F.col("b.rk_bot"))
            & (F.col("a.rk_top") <= _PREF_PAIRS_PER_SRC)
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("a.q_score") - F.col("b.q_score") >= _PREF_MIN_MARGIN),
        )
        .select(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("chosen_doc"),
            F.col("b.doc_id").alias("rejected_doc"),
            F.col("a.q_score").alias("chosen_score"),
            F.col("b.q_score").alias("rejected_score"),
            (F.col("a.q_score") - F.col("b.q_score")).alias("margin"),
        )
    )
