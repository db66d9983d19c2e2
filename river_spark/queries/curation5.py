"""Curation wave 5 (round 8): a k-means update step, a perceptual-hash
near-dup join over multimodal payloads, and a MinHash recall gate —
three more LLM-pipeline staples, each with a bit-level DuckDB oracle.

The recall gate follows emb_ann_recall's round-7 pattern: the
approximate arm is re-expressed with SQL-replayable hashing (md5-prefix
ints instead of the production xxhash64) so DuckDB can recompute BOTH
arms and the gate's integers (n_true / n_pred / n_hit) are bit-checked,
turning any recall regression into a value mismatch instead of a
silent quality drop.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from river_spark.queries.relational import q
from river_spark.queries.tables import tbl
from river_spark.queries.vectors import first_centroids, nearest_centroid


@q(
    "emb_kmeans_update",
    oracle="""
    WITH c AS (
        SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8),
    d AS (
        SELECT e.vec_id, c.c_id, e.embedding,
               round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                     - 2 * list_dot_product(e.embedding::DOUBLE[], c.cv)
                     + list_dot_product(c.cv, c.cv), 6) AS dist2
        FROM embeddings e CROSS JOIN c),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
        FROM d),
    m AS (SELECT c_id, vec_id, embedding FROM r WHERE rn = 1),
    e2 AS (
        SELECT c_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM m, UNNEST(generate_series(1, len(embedding))) AS g(i)),
    nm AS (SELECT c_id, pos, avg(val) AS mval FROM e2 GROUP BY 1, 2),
    oc AS (
        SELECT c_id, i AS pos, cv[i] AS oval
        FROM c, UNNEST(generate_series(1, len(cv))) AS g(i)),
    n AS (SELECT c_id, count(*) AS n_members FROM m GROUP BY c_id)
    SELECT nm.c_id AS cluster_id, n.n_members,
           round(sqrt(sum(mval * mval)), 6) AS new_norm,
           round(sqrt(sum((mval - oval) * (mval - oval))), 6) AS centroid_shift
    FROM nm JOIN oc USING (c_id, pos) JOIN n ON n.c_id = nm.c_id
    GROUP BY nm.c_id, n.n_members
    """,
    tags=("vector", "cluster", "kmeans"),
)
def emb_kmeans_update(spark, sf_dir):
    """One full Lloyd iteration (assignment + centroid UPDATE) with
    deterministic init — extends emb_cluster_assign (assignment only)
    by the update half: per-cluster element-wise means become the new
    centroids, reported as their L2 norm plus the shift distance from
    the old centroid (the quantity a k-means convergence check
    monitors). Iterating this operator IS distributed k-means; one step
    with pinned init keeps it SQL-checkable, unlike free-running
    KMeans.

    100 TB posture: the K-row centroid table broadcasts into both the
    assignment cross and the update join; the update shuffles
    (cluster, dim) pairs — dimension-parallel like emb_centroid_norms,
    so wide vectors don't serialize through one reducer. Distances are
    rounded before the argmin so ulp drift can't flip an assignment
    (ties break on centroid id)."""
    emb = tbl(spark, sf_dir, "embeddings")
    cents = first_centroids(emb)
    members = nearest_centroid(emb, cents, "embedding")
    counts = members.groupBy("c_id").agg(F.count("*").alias("n_members"))
    nm = (
        members.select("c_id", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("c_id", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("mval"))
    )
    oc = cents.select(
        "c_id", F.posexplode(F.col("cv").cast("array<double>")).alias("pos", "oval")
    )
    diff = F.col("mval") - F.col("oval")
    return (
        nm.join(F.broadcast(oc), ["c_id", "pos"])
        .groupBy("c_id")
        .agg(
            F.round(F.sqrt(F.sum(F.col("mval") * F.col("mval"))), 6).alias("new_norm"),
            F.round(F.sqrt(F.sum(diff * diff)), 6).alias("centroid_shift"),
        )
        .join(F.broadcast(counts), "c_id")
        .select(
            F.col("c_id").alias("cluster_id"), "n_members", "new_norm", "centroid_shift"
        )
    )


@q(
    "mm_phash_dedup",
    oracle="""
    WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substr(text, 1, 9) || 'Q' || substr(text, 11)
        FROM documents WHERE doc_id % 50 = 0),
    p AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM base),
    b AS (
        SELECT doc_id, ((i - 1) * 32) // n AS c,
               (strpos('0123456789ABCDEF', substring(hx, 2 * i - 1, 1)) - 1) * 16
               + strpos('0123456789ABCDEF', substring(hx, 2 * i, 1)) - 1 AS byte
        FROM p, UNNEST(generate_series(1, n)) AS g(i)),
    s AS (
        SELECT doc_id, c, CAST(sum(byte) AS BIGINT) % 2 AS par
        FROM b GROUP BY 1, 2),
    h AS (
        SELECT doc_id, CAST(sum(par * (CAST(1 AS BIGINT) << c)) AS BIGINT) AS phash
        FROM s GROUP BY doc_id),
    bd AS (
        SELECT doc_id, phash, k, (phash >> (8 * k)) & 255 AS bv
        FROM h, UNNEST(generate_series(0, 3)) AS g(k)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.phash AS ha, b.phash AS hb
        FROM bd a JOIN bd b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
    tags=("multimodal", "dedup", "phash"),
)
def mm_phash_dedup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection over binary payloads —
    the image-dedup stage of a multimodal pipeline, run on synthetic
    payloads (documents.text as bytes; a real pHash/dHash needs the
    absent image codecs — operators/multimodal.py's stub contract).
    The honest fake is locality-sensitive like the real thing: 32
    equal-byte-range chunks, one parity bit each (a localized edit
    flips only its chunk's bits), banded 4x8 bits for the candidate
    join and verified at Hamming <= 3 — pigeonhole-complete (3
    differing bits cannot touch all 4 bands). Twin payloads (one byte
    substituted at offset 9, every 50th doc) guarantee true near-dups
    exist at every SF; min payload here is 44 bytes so every chunk is
    non-empty (the bincount path handles shorter payloads too).

    The hash itself is computed in one Arrow-batched mapInPandas pass
    (numpy bincount per payload — the pHash production slot), never
    per-byte explode; only the 8-byte hashes shuffle through the band
    join. 100 TB posture: identical to dedup_simhash — bucketed
    equi-join on band values, no all-pairs stage; a production 64-bit
    pHash would band 4x16."""
    import pandas as pd

    docs = tbl(spark, sf_dir, "documents")
    twins = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 9), F.lit("Q"), F.expr("substring(text, 11)")
        ).alias("text"),
    )
    base = docs.select("doc_id", "text").unionByName(twins).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def phash(batches):
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                n = len(buf)
                if n == 0:
                    ids.append(doc_id)
                    hashes.append(0)
                    continue
                chunk = (np.arange(n, dtype=np.int64) * 32) // n
                sums = np.bincount(chunk, weights=buf, minlength=32)
                parity = sums.astype(np.int64) & 1
                ids.append(doc_id)
                hashes.append(int((parity << np.arange(32)).sum()))
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    h = base.mapInPandas(phash, schema="doc_id bigint, phash bigint")
    bd = h.select(
        "doc_id",
        "phash",
        F.explode(F.expr("sequence(0, 3)")).alias("k"),
    ).withColumn("bv", F.expr("shiftright(phash, k * 8) & 255"))
    a = bd.alias("a")
    b = bd.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("ha"),
            F.col("b.phash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(hamming <= 3).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


@q(
    "dedup_minhash_recall",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
    cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    ip AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    truth AS (
        SELECT doc_a, doc_b
        FROM ip JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
        WHERE inter * 1.0 / (ca.c + cb.c - inter) >= 0.9),
    hs AS (
        SELECT doc_id, k,
               min(CAST(('0x' || substr(md5(concat(s, '#', k)), 1, 8)) AS BIGINT)) AS h
        FROM sh, UNNEST(generate_series(0, 15)) AS g2(k)
        GROUP BY doc_id, k),
    bd AS (
        SELECT doc_id, k // 4 AS b,
               string_agg(CAST(h AS VARCHAR), '-' ORDER BY k) AS key
        FROM hs GROUP BY doc_id, k // 4),
    pred AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bd a JOIN bd b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
    j AS (
        SELECT t.doc_a AS ta, p.doc_a AS pa
        FROM truth t FULL OUTER JOIN pred p
          ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b)
    SELECT count(ta) AS n_true, count(pa) AS n_pred,
           count(CASE WHEN ta IS NOT NULL AND pa IS NOT NULL THEN 1 END) AS n_hit,
           CAST(count(CASE WHEN ta IS NOT NULL AND pa IS NOT NULL THEN 1 END) AS DOUBLE)
             / count(ta) AS recall
    FROM j
    """,
    tags=("dedup", "minhash", "recall", "gate"),
)
def dedup_minhash_recall(spark, sf_dir):
    """MinHash-LSH recall gate, the dedup twin of round 7's
    emb_ann_recall: banding candidates (NO exact verify — this measures
    the approximate stage itself) are set-compared against the
    exhaustive Jaccard>=0.9 ground truth, emitting n_true / n_pred /
    n_hit as integers plus recall as a raw ratio (bit-identical IEEE
    division; round() would diverge on decimal midpoints). A banding
    change that hurts recall now moves an integer through the
    correctness gate instead of silently shipping worse dedup.

    The signature here is the SQL-REPLAYABLE variant of the production
    pipeline: 16 md5-prefix hashes in 4 bands of 4 (DuckDB replays md5
    bit-for-bit; the production dedup_minhash_lsh path keeps variadic
    xxhash64, which no oracle can recompute). At Jaccard 0.9 a true
    pair is missed by 4x4 banding with prob (1-0.9^4)^4 ~= 1.4e-2, so
    recall is expected at-or-near 1.0 and any drop is a real geometry
    regression. The per-doc signature is computed IN-ROW (min over the
    collected shingle set, one transform lambda per hash — no 16-way
    explode), bands shuffle as 8-byte-per-hash strings, and the truth
    arm is the same inverted-index exact-Jaccard operator the
    production verify uses (data-bounded pair space, df-capped)."""
    from river_spark.operators.dedup import ngram_jaccard_pairs, shingles

    docs = tbl(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    # r15: distinct=False — collect_set dedupes anyway, so the shingle
    # .distinct() was a pure extra exchange of the full string-shingle
    # stream. The remaining (only) exchange gets an explicit partition
    # count: the sig projection below it evaluates 16 md5s per shingle
    # per doc (~40 M md5 calls at sf0.1) fused into the post-agg stage,
    # which AQE's bytes-based coalescing otherwise packs onto 1-2 tasks.
    # defaultParallelism scales with the cluster, not the data — at real
    # scale this is the same single exchange the groupBy always paid.
    sh = shingles(docs, "doc_id", "text", n=3, hashed=False, distinct=False)
    per_doc = (
        sh.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("ss"))
    )
    sig = per_doc.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 15), k -> "
            "array_min(transform(ss, s -> "
            "cast(conv(substring(md5(concat(s, '#', k)), 1, 8), 16, 10) as bigint))))"
        ).alias("sig"),
    )
    bd = sig.select(
        "doc_id",
        F.explode(F.expr("sequence(0, 3)")).alias("b"),
        F.col("sig"),
    ).select(
        "doc_id",
        "b",
        F.expr("concat_ws('-', slice(sig, b * 4 + 1, 4))").alias("key"),
    )
    a, b = bd.alias("a"), bd.alias("b")
    pred = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .select("doc_a", "doc_b", F.lit(1).alias("p"))
    )
    j = truth.join(pred, ["doc_a", "doc_b"], "full_outer")
    hit = F.count(F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1))
    return j.agg(
        F.count("t").alias("n_true"),
        F.count("p").alias("n_pred"),
        hit.alias("n_hit"),
        (hit.cast("double") / F.count("t")).alias("recall"),
    )
