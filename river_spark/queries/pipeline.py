"""Training-data-pipeline queries. Oracle-backed wherever the result is
deterministic and SQL-expressible (exact-verified MinHash pairs, planted
-twin ANN retrieval, payload metadata); the rest (probabilistic-recall
dedup, fake-decoder multimodal) stay rows-only with unit tests against
brute-force baselines in tests/test_pipeline_ops.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from river_spark.operators.dedup import (
    cosine_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash_pairs,
    simhash_signatures,
)
from river_spark.operators.multimodal import (
    decode_image_features,
    resize_image,
    sample_frames,
    with_payload_metadata,
)
from river_spark.operators.similarity import (
    dot_sql,
    ivf_topk,
    lcg_plane_weights,
    lsh_signature_sql,
    lsh_topk,
    norm_sql,
    top_k,
)
from river_spark.queries.relational import q
from river_spark.queries.tables import spread_scan, tbl, tview

# Pinned hyperplanes for the ANN recall gate: explicit integer literals so
# the DuckDB oracle runs the IDENTICAL planes (xxhash64-derived planes are
# Spark-only). 8 planes x 64 dims, LCG-deterministic.
_ANN_RECALL_PLANES = 8
_ANN_RECALL_WEIGHTS = lcg_plane_weights(_ANN_RECALL_PLANES, 64)
# probe masks for hamming<=2 over 8 planes: 1 + 8 + 28 = 37 buckets/query
_ANN_RECALL_MASKS = [0] + [1 << i for i in range(_ANN_RECALL_PLANES)] + [
    (1 << i) | (1 << j)
    for i in range(_ANN_RECALL_PLANES)
    for j in range(i + 1, _ANN_RECALL_PLANES)
]


def _ann_recall_spark_sql(view: str) -> str:
    """The Spark-side emb_ann_recall statement (see the query docstring).
    Expression text is single-sourced from the similarity operators, so
    the parsed trees match the lsh_topk/brute_force_topk composition
    node for node."""
    sig = lsh_signature_sql("embedding", _ANN_RECALL_PLANES, _ANN_RECALL_WEIGHTS)
    masks = ", ".join(str(m) for m in _ANN_RECALL_MASKS)
    cos = f"{dot_sql('cv', 'qv')} / (cn * qn)"

    def top10(side: str, source: str, on: str) -> str:
        # the ann and bf arms differ only in the broadcast side and the join
        return f"""
      SELECT query_id, doc_id FROM (
        SELECT /*+ BROADCAST({side}) */ {side}.query_id, c.doc_id,
               row_number() OVER (PARTITION BY {side}.query_id
                                  ORDER BY {cos} DESC, c.doc_id) AS rn
        FROM c JOIN {source} ON {on})
      WHERE rn <= 10"""

    return f"""
    WITH c AS (
      SELECT vec_id AS doc_id, embedding AS cv, {sig} AS bucket,
             {norm_sql('embedding')} AS cn FROM {view}),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, {sig} AS qsig,
             {norm_sql('embedding')} AS qn
      FROM {view} WHERE vec_id < 20),
    probes AS (
      SELECT query_id, qv, qn,
             explode(transform(array({masks}), m -> qsig ^ m)) AS bucket
      FROM q),
    ann AS ({top10("p", "probes p", "c.bucket = p.bucket AND c.doc_id != p.query_id")}),
    bf AS ({top10("q", "q", "c.doc_id != q.query_id")})
    SELECT b.query_id,
           cast(coalesce(sum(a.hit), 0) as bigint) AS ann_hits,
           cast(count(*) as bigint) AS exact_k
    FROM bf b LEFT JOIN (SELECT query_id, doc_id, 1 AS hit FROM ann) a
      ON a.query_id = b.query_id AND a.doc_id = b.doc_id
    GROUP BY b.query_id
    """


def _ann_recall_oracle() -> str:
    weight_rows = ",\n        ".join(
        f"({p}, [{', '.join(str(x) for x in row)}]::DOUBLE[])"
        for p, row in enumerate(_ANN_RECALL_WEIGHTS)
    )
    masks = ", ".join(str(m) for m in _ANN_RECALL_MASKS)
    return f"""
    WITH w(plane, pw) AS (VALUES
        {weight_rows}),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigv AS (
        SELECT c.vec_id,
               CAST(sum(CASE WHEN list_dot_product(c.v, w.pw) > 0 THEN 1 << w.plane ELSE 0 END) AS BIGINT) AS bucket
        FROM corpus c, w GROUP BY c.vec_id),
    sig AS (SELECT c.vec_id, c.v, s.bucket FROM corpus c JOIN sigv s USING (vec_id)),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qsig FROM sig WHERE vec_id < 20),
    probes AS (
        SELECT query_id, qv, xor(qsig, CAST(t.m AS BIGINT)) AS bucket
        FROM q, UNNEST([{masks}]) AS t(m)),
    cand AS (
        SELECT p.query_id, s.vec_id AS doc_id,
               list_dot_product(s.v, p.qv)
                 / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(p.qv, p.qv))) AS cos
        FROM sig s JOIN probes p ON s.bucket = p.bucket
        WHERE s.vec_id <> p.query_id),
    ann AS (
        SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rn
            FROM cand) WHERE rn <= 10),
    bf AS (
        SELECT query_id, doc_id FROM (
            SELECT q.query_id, c.vec_id AS doc_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     list_dot_product(c.v, q.qv)
                       / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                     c.vec_id) AS rn
            FROM corpus c, q WHERE c.vec_id <> q.query_id) WHERE rn <= 10)
    SELECT b.query_id,
           CAST(count(a.doc_id) AS BIGINT) AS ann_hits,
           CAST(count(*) AS BIGINT) AS exact_k
    FROM bf b LEFT JOIN ann a ON a.query_id = b.query_id AND a.doc_id = b.doc_id
    GROUP BY b.query_id
    """


@q(
    "emb_ann_recall",
    oracle=_ann_recall_oracle(),
    tags=("vector", "ann", "recall"),
    bench=True,
)
def emb_ann_recall(spark, sf_dir):
    """Recall@10 of LSH-ANN against brute force, as exact integer counts
    per query — the regression gate the planted-twin checks can't give:
    probe-count or band-geometry changes move these numbers instead of
    flipping a pass/fail. The planes are pinned integer literals
    (lcg_plane_weights) so the DuckDB oracle replays the IDENTICAL ANN
    pipeline — signature, probe expansion, candidate scoring, ranking —
    making organic (non-planted) recall bit-level verifiable.

    100 TB posture: same as emb_ann_lsh — corpus bucketed once by an
    equi-join key, query probe set broadcast; brute force on the small
    query set is the documented broadcast-crossJoin scan.

    r16: built as ONE spark.sql() statement over the session-memoized
    embeddings view instead of ~25 DataFrame method calls — each call is
    an eager py4j + analysis round, and this query spent ~0.5 s of its
    ~1 s wall in driver plan-build (r16 audit: one-statement build is
    ~130 ms). Every expression is composed from the SAME SQL text the
    DataFrame operators use (lsh_signature_sql / dot_sql / norm_sql),
    the windows rank by the same raw cosine with the same doc_id
    tiebreak, and the broadcast hints mirror the old F.broadcast()
    calls — output verified identical (sorted collect at sf0.1 + the
    standing bit-level oracle)."""
    return spark.sql(_ann_recall_spark_sql(tview(spark, sf_dir, "embeddings")))


@q(
    "dedup_minhash_lsh",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
    sh AS (
        -- mirror Spark's shingles(): lowercase, and short docs (< n tokens)
        -- produce one truncated shingle (slice clamps at the end)
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
    cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    pair AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           inter * 1.0 / (ca.c + cb.c - inter) AS jaccard
    FROM pair
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE inter * 1.0 / (ca.c + cb.c - inter) >= 0.9
    """,
    tags=("dedup", "minhash"),
    bench=True,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidates, THREE-stage production shape: band-bucket
    candidates → signature-estimate prefilter → exact verify. With 64
    hashes in 16 bands (4 rows/band) a pair at the 0.9 threshold is
    missed with probability (1-0.9^4)^16 ≈ 4e-8, so every true pair's
    docs land in the candidate set. The estimate prefilter
    (estimate_filtered_candidates, margin 0.65 — miss 2.4e-8, the same
    order as the banding miss) then drops the mid-Jaccard family pairs
    the banding s-curve lets through, which is what keeps the exact
    stage candidate-bounded on corpora with semi-duplicate families
    (the round-7 deep probe's 2045x candidate blowup). The verify is
    the exact inverted-index Jaccard (ngram_jaccard_pairs) over ONLY
    the surviving docs; verifying all pairs among surviving DOCS is a
    superset of the surviving PAIRS — and any extra pair it finds at
    >= 0.9 is itself a true pair caught independently by its own docs —
    so the exact >= 0.9 filter makes the output precisely the oracle's
    exhaustive pair list.

    Shape choice (measured): carrying the signatures THROUGH the bucket
    shuffle and estimating in-bucket (minhash_dedup's shape) avoids the
    two est-join re-executions of the signature aggregation and ran ~10%
    faster here (3.07 vs 3.43 s at sf0.1; 12.9 vs 14.0 s at 30x,
    identical output) — but it shuffles the 64-long signature with every
    band row (~8.3 KB/doc vs 128 B/doc ids-only, 65x the bytes).
    local[32] shuffles at memory speed; a network-bound 1000-executor
    shuffle does not, so the ids-only join shape is the 100 TB choice,
    and the in-bucket variant remains one call away as
    minhash_dedup(threshold=margin)."""
    from river_spark.operators.dedup import (
        estimate_filtered_candidates,
        ngram_jaccard_pairs,
    )

    docs = tbl(spark, sf_dir, "documents")
    # distinct=False: the only consumer here (min-hash mins) is
    # duplicate-insensitive, so the shingle-dedup shuffle is pure waste.
    sh = shingles(docs, "doc_id", "text", 3, hashed=True, distinct=False)
    # The signature table has THREE consumers (banding + the est-join's
    # two sides) and the two-phase bucket cap adds a fourth read of the
    # banded stream; without a persist Catalyst re-executes the whole
    # shingle-explode + 64-min-hash aggregation for each one (r15 plan
    # audit: 4 parquet scans of documents feeding 4 identical HashAgg
    # pipelines). Materializing the signature table once is the
    # "fingerprints only" pass of the decision/placement split: at any
    # scale sigs is ~520 B/doc — orders of magnitude smaller than the
    # corpus it summarizes — and MEMORY_AND_DISK (persist default)
    # spills instead of evicting at 100 TB. Measured 4.4-4.8 s -> 3.3-3.6
    # s at sf0.1 (min-of-6, same session); bench clearCache() between
    # runs keeps every run computing from parquet.
    sigs = minhash_signatures(sh, 64).persist()
    # distinct_pairs=False + no cand_ids distinct (r15): the left-semi
    # join below dedupes doc ids anyway, so both pair-dedup exchanges
    # were pure stage cost — two fewer shuffles, identical output
    # (measured 2.77 -> 2.47 s at sf0.1). Estimate work on a pair
    # repeats once per shared band (<= 16, organically 1-3) — bounded,
    # and the O(1)-per-candidate estimate is the cheap stage.
    cand = lsh_candidate_pairs(sigs, bands=16, sig_len=64, distinct_pairs=False)
    surv = estimate_filtered_candidates(sigs, cand, margin_est=0.65)
    cand_ids = surv.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
    cand_docs = docs.join(cand_ids, "doc_id", "left_semi")
    return ngram_jaccard_pairs(cand_docs, "doc_id", "text", 3, threshold=0.9)


@q(
    "dedup_simhash",
    oracle="""
    SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b, CAST(0 AS BIGINT) AS hamming
    FROM documents WHERE doc_id < 25
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark, sf_dir):
    """Planted-twin verification through the full SimHash pipeline: each
    planted doc (doc_id + 1e7) is a byte-identical copy, so its signature
    matches every chunk of the original's — banding MUST bucket them
    together and exact verify MUST report Hamming 0. Only pairs with
    doc_b - doc_a == 1e7 are returned (exactly the planted twins, since
    organic ids are < 1e7); organic near-dup recall is covered by the
    planted-mutation unit tests in tests/test_pipeline_ops.py.
    max_hamming=8 keeps the organic pair expansion bounded (the synthetic
    docs share a small vocabulary)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    # r15: the signature build (tokenize + explode + 64 per-bit partial
    # sums) fuses into the scan stage — one row group locally, so ~13 s
    # of the query ran on a single core. spread_scan is a no-op when the
    # source already reads as >= cores partitions (real scale).
    corpus = spread_scan(docs.unionByName(twins), "doc_id")
    sigs = simhash_signatures(corpus, "doc_id", "text")
    # max_bucket is explicit and corpus-proof: 8-bit chunks give only 256
    # bucket values per band, so at larger sf a twin's bucket organically
    # exceeds the default 1000 cap and the skew guard would drop the
    # planted pair from a CORRECT pipeline. The verification query must
    # never let the guard fire.
    pairs = simhash_pairs(
        sigs,
        max_hamming=8,
        max_bucket=1_000_000_000,
        # r15: the bucket stage (collect_list + in-bucket pair expansion
        # + Hamming verify, all fused) was AQE-coalesced to ONE task —
        # see _two_phase_group's num_partitions note
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    return pairs.filter(F.col("doc_b") - F.col("doc_a") == 10_000_000).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


@q(
    "emb_cosine_dedup",
    oracle="""
    SELECT vec_id AS doc_a, vec_id + 1000000 AS doc_b, CAST(1.0 AS DOUBLE) AS cos_sim
    FROM embeddings WHERE vec_id < 5
    """,
    tags=("dedup", "vector"),
)
def emb_cosine_dedup(spark, sf_dir):
    """Planted-twin verification of the hyperplane-bucketed cosine dedup:
    an identical vector shares every plane sign with its original, so the
    pair lands in one bucket and verifies at cosine 1.0. Only planted
    pairs (doc_b - doc_a == 1e6) are returned; bucketing/verify behavior
    on organic near-neighbors is unit-tested against brute force.
    n_planes=6 + low threshold keep the bucket path observable on the
    near-orthogonal synthetic embeddings."""
    emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    # n_planes=6 means only 64 possible sign buckets — explicit max_bucket
    # so bucket occupancy growing with sf can never trip the skew guard
    # and drop the planted pair (see dedup_simhash note).
    pairs = cosine_dedup(
        corpus, "vec_id", "embedding", n_planes=6, threshold=0.2, max_bucket=1_000_000_000
    )
    return pairs.filter(F.col("doc_b") - F.col("doc_a") == 1_000_000).select(
        "doc_a", "doc_b", "cos_sim"
    )


def _planted_twin_top1(spark, sf_dir, search, **params):
    """The first five vectors are the queries, each with an exact twin
    (vec_id + 1e6) planted in the corpus; returns each query's rank-1
    hit of the top-10 ``search`` operator by (cos_sim desc, doc_id)."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "label", "embedding"
    )
    corpus = emb.unionByName(twins)
    topk = search(corpus, queries, "vec_id", "embedding", k=10, **params)
    return top_k(topk, "query_id", [F.desc("cos_sim"), "doc_id"], 1).select(
        "query_id", F.col("doc_id").alias("top1_doc_id"), F.round("cos_sim", 6).alias("top1_cos")
    )


@q(
    "emb_ann_lsh",
    oracle="""
    SELECT vec_id AS query_id, vec_id + 1000000 AS top1_doc_id,
           CAST(1.0 AS DOUBLE) AS top1_cos
    FROM embeddings WHERE vec_id < 5
    """,
    tags=("vector", "ann"),
    bench=True,
)
def emb_ann_lsh(spark, sf_dir):
    """Planted-twin retrieval through the full LSH-ANN pipeline: each
    query vector gets an exact duplicate planted in the corpus (vec_id +
    1e6); identical vectors share every hyperplane sign, so the twin is
    always bucketed with its query and MUST come back as rank-1 with
    cosine 1.0. This verifies bucketing, probe expansion, scoring, and
    ranking end-to-end; recall on weak neighbors is covered by unit
    tests against brute force (tests/test_pipeline_ops.py)."""
    return _planted_twin_top1(spark, sf_dir, lsh_topk, n_planes=12, probe_hamming=2)


@q(
    "mm_payload_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           substring(hex(encode(text)), 1, 8) AS payload_magic,
           sha256(text) AS payload_sha
    FROM documents
    """,
    tags=("multimodal",),
)
def mm_payload_metadata(spark, sf_dir):
    """Binary-column plumbing over synthetic payloads (documents.text as
    bytes — the container has no real media, SURVEY Part B north-star).
    Byte length, 4-byte magic hex, and sha-256 are all exactly
    DuckDB-expressible, so this gets a bit-level oracle."""
    docs = tbl(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    return with_payload_metadata(docs, "payload").select(
        "doc_id", "payload_bytes", "payload_magic", "payload_sha"
    )


@q(
    "mm_decode_features",
    oracle="""
    WITH h AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
    ), nib AS (
        -- byte k's low nibble is hex char 2k (1-indexed) of hex(payload):
        -- exactly the fake decoder's (byte % 16) histogram bucket
        SELECT doc_id, strpos('0123456789ABCDEF', substring(hx, 2 * i, 1)) - 1 AS dim
        FROM h, UNNEST(generate_series(1, n)) AS g(i)
    ), c AS (
        SELECT doc_id, dim, count(*) AS cnt FROM nib GROUP BY 1, 2
    )
    SELECT h.doc_id,
           h.n AS n_bytes,
           CAST((h.n % 1920) + 1 AS INT) AS width,
           CAST((h.n % 1080) + 1 AS INT) AS height,
           CAST(d.i AS INT) AS dim,
           CAST(COALESCE(c.cnt, 0) AS BIGINT) AS hist_count
    FROM h
    CROSS JOIN UNNEST(generate_series(0, 15)) AS d(i)
    LEFT JOIN c ON c.doc_id = h.doc_id AND c.dim = d.i
    """,
    tags=("multimodal", "udf"),
)
def mm_decode_features(spark, sf_dir):
    """Arrow-batched fake decode, reshaped for the correctness gate: the
    float32 normalized histogram is exploded to (doc_id, dim) rows and
    de-normalized back to the integer byte count — bit-exact across
    engines (a raw float32 vs DuckDB-double compare would flake at any
    rounding precision)."""
    docs = tbl(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    feats = decode_image_features(docs, "doc_id", "payload", decoder="fake")
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.posexplode("features").alias("dim", "value"),
    ).select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "dim",
        F.round(F.col("value") * F.col("n_bytes")).cast("long").alias("hist_count"),
    )


@q(
    "mm_frame_sample",
    oracle="""
    WITH p AS (
        SELECT doc_id, encode(text) AS payload,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
    )
    SELECT doc_id, CAST(g.i AS INT) AS frame_no,
           CAST(n // 4 AS BIGINT) AS frame_bytes,
           substring(hex(payload), CAST(2 * (g.i * (n // 4)) + 1 AS INT),
                     CAST(2 * (n // 4) AS INT)) AS frame_hex
    FROM p, UNNEST(generate_series(0, 3)) AS g(i)
    """,
    tags=("multimodal",),
)
def mm_frame_sample(spark, sf_dir):
    """Frame sampling with a bit-level oracle: frame boundaries are plain
    substring arithmetic, so DuckDB can recompute each frame byte-for-byte
    (compared as hex — this DuckDB build has no blob substring/sha)."""
    docs = tbl(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    frames = sample_frames(docs, "doc_id", "payload", n_frames=4)
    return frames.select(
        "doc_id", "frame_no", "frame_bytes", F.hex("frame_payload").alias("frame_hex")
    )


@q(
    "mm_resize",
    oracle="""
    WITH p AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS L
        FROM documents),
    d AS (SELECT doc_id, hx, L, (L % 1920) + 1 AS w, (L % 1080) + 1 AS h FROM p)
    SELECT doc_id,
           CAST(w AS INT) AS src_w,
           CAST(h AS INT) AS src_h,
           list_aggregate(
             list_transform(generate_series(0, 63), i ->
               substring(hx,
                         CAST(2 * ((((i // 8) * h // 8) * w + ((i % 8) * w // 8)) % L) + 1 AS INT),
                         2)),
             'string_agg', '') AS resized_hex
    FROM d
    """,
    tags=("multimodal",),
)
def mm_resize(spark, sf_dir):
    """Arrow-batched fake resize (nearest-neighbor over the pseudo
    byte-grid) with a bit-level oracle: every output byte is plain index
    arithmetic on the payload, so DuckDB recomputes the full 8x8 resize
    byte-for-byte from the hex encoding (no blob substring in this
    build)."""
    docs = tbl(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    rz = resize_image(docs, "doc_id", "payload", target_w=8, target_h=8)
    return rz.select("doc_id", "src_w", "src_h", F.hex("resized").alias("resized_hex"))


@q(
    "emb_ann_ivf",
    oracle="""
    SELECT vec_id AS query_id, vec_id + 1000000 AS top1_doc_id,
           CAST(1.0 AS DOUBLE) AS top1_cos
    FROM embeddings WHERE vec_id < 5
    """,
    tags=("vector", "ann", "ivf"),
)
def emb_ann_ivf(spark, sf_dir):
    """IVF-partitioned ANN (KMeans cells, n_probes nearest cells scored),
    verified by planted-twin retrieval: the twin is assigned to the cell
    whose centroid is nearest the query vector — exactly the first cell
    the query probes — so it MUST come back rank-1 with cosine 1.0.
    Recall against brute force is covered in tests/test_pipeline_ops.py."""
    return _planted_twin_top1(spark, sf_dir, ivf_topk, n_lists=16, n_probes=3)


@q(
    "mm_audio_windows",
    oracle="""
    WITH p AS (
        SELECT doc_id, encode(text) AS payload,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents)
    SELECT doc_id, CAST(g.i AS INT) AS win_no,
           CAST(g.i * 32 AS BIGINT) AS start_byte,
           substring(hex(payload), CAST(2 * (g.i * 32) + 1 AS INT), 128) AS win_hex
    FROM p, UNNEST(generate_series(0, (n - 64) // 32)) AS g(i)
    WHERE n >= 64
    """,
    tags=("multimodal", "audio"),
)
def mm_audio_windows(spark, sf_dir):
    """Overlapping signal windows (64-byte window, 32-byte hop) with a
    bit-level oracle: every window is substring arithmetic DuckDB
    recomputes byte-for-byte over the hex encoding. Payloads shorter
    than one window drop out identically on both sides."""
    from river_spark.operators.multimodal import window_signal

    docs = tbl(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    wins = window_signal(docs, "doc_id", "payload", window_bytes=64, hop_bytes=32)
    return wins.select(
        "doc_id", "win_no", "start_byte", F.hex("window_payload").alias("win_hex")
    )


@q(
    "mm_pair_coverage",
    oracle="""
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_paired,
           CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan,
           sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*)
               AS pair_rate,
           CAST(sum(CASE WHEN e.vec_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT)
               AS orphan_chars
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.source
    """,
    tags=("multimodal", "pairing", "coverage"),
)
def mm_pair_coverage(spark, sf_dir):
    """Cross-modal pairing coverage — the audit a multimodal (VLM-style)
    data build runs before training: which text documents have a
    companion embedding/asset row (keyed doc_id = vec_id here), per
    source, and how much text mass sits ORPHANED (the re-embedding /
    re-crawl backlog, measured in chars so it doubles as a cost
    estimate). At sf0.1 the embeddings table deliberately covers only
    40% of documents, so the rates are non-trivial; the left join keeps
    every document — a pairing audit that silently drops unpaired rows
    is measuring the wrong thing.

    100 TB posture: one equi-join (the asset/metadata side is the
    smaller relation — broadcast or co-bucketed on the shared id) and
    one hash agg on the source key; pair_rate is a single
    exact-integer division."""
    d = tbl(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    e = tbl(spark, sf_dir, "embeddings").select(F.col("vec_id"))
    j = d.join(e, d.doc_id == e.vec_id, "left")
    paired = F.when(F.col("vec_id").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(paired).alias("n_paired"),
        F.sum(1 - paired).alias("n_orphan"),
        (F.sum(paired) * 1.0 / F.count("*")).alias("pair_rate"),
        F.sum(F.when(F.col("vec_id").isNull(), F.col("n_chars")).otherwise(F.lit(0))).alias(
            "orphan_chars"
        ),
    )
