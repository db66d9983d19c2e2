"""Approximate nearest-neighbor search over an embedding column.

- ``brute_force_topk``: exact cosine top-k — the correctness baseline and
  the right plan for broadcastable query sets (scan is embarrassingly
  parallel, top-k is TakeOrderedAndProject, no full sort).
- ``lsh_topk``: random-hyperplane LSH — the 100 TB path. The corpus is
  bucketed once (write-time in production); a query probes only buckets
  within ``probe_hamming`` of its own signature, turning an O(N) scan
  into O(N / 2^planes × buckets_probed).

All math stays JVM-side (higher-order functions over array<float>).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    """Dot product of two array columns. Accepts column NAMES (strings) —
    then built as one F.expr SQL string (a single py4j round-trip; the
    Column-API zip_with/aggregate lambda pair costs ~10 JVM round-trips
    of driver plan-build time per call site, r15 build audit) — or
    Column objects for expression composition. Both forms parse to the
    identical fold (same casts, same 0.0 seed, same left fold), so
    values are bit-equal."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    """SQL text of the :func:`_dot` fold — single-sourced so spark.sql()
    query builds (r16) compose the identical expression."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    """SQL text of :func:`_norm` (same expression tree)."""
    return f"sqrt({dot_sql(a, a)})"


def _norm(a):
    return F.sqrt(_dot(a, a))


def brute_force_topk(
    corpus: DataFrame, query: DataFrame, id_col: str, vec_col: str, k: int = 10
) -> DataFrame:
    """Exact top-k cosine per query row. ``query`` must be small
    (broadcast); returns [query_id, doc_id, cos_sim] with rank <= k."""
    from pyspark.sql import Window

    # Norms are per-ROW quantities: computing them once in each side's
    # projection instead of inside the per-PAIR cosine cuts the scoring
    # stage's interpreted higher-order-function work from 3 to 1 array
    # folds per pair (the cosine VALUE is bit-identical — same float ops,
    # same order, just factored). Measured 2.2 s -> 0.7 s for the
    # emb_ann_recall brute-force arm at sf0.1.
    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("cv"),
        _norm(vec_col).alias("cn"),
    )
    # r16: scoring + ranking fused into 3 DataFrame ops instead of 5 —
    # every DataFrame method is an eager py4j analysis round (~12 ms
    # each on this plan, r16 build audit), and the vector family's wall
    # is 30-50% driver plan-build. The self-pair filter moves INTO the
    # join condition (same BroadcastNestedLoopJoin the crossJoin+filter
    # planned, condition evaluated before any downstream row exists),
    # and the window ranks by the same raw cos EXPRESSION the old
    # cos_sim column held (round(,6) applies only to the emitted value,
    # exactly as before), so ranking and output are bit-identical.
    cos = _dot("cv", "qv") / (F.col("cn") * F.col("qn"))
    w = Window.partitionBy("query_id").orderBy(cos.desc(), "doc_id")
    return (
        c.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(cos, 6).alias("cos_sim"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "cos_sim")
    )


def lsh_signature(vec_col: str, n_planes: int = 12, weights=None):
    """Column form of :func:`lsh_signature_sql` (same expression tree)."""
    return F.expr(lsh_signature_sql(vec_col, n_planes, weights))


def lsh_signature_sql(vec_col: str, n_planes: int = 12, weights=None) -> str:
    """Deterministic random-hyperplane signature as an int bucket id,
    returned as SQL TEXT so single-statement spark.sql() query builds
    (r16 — one py4j/analysis round trip instead of ~20) compose the
    IDENTICAL expression the DataFrame operators use.

    Default plane weights derive from xxhash64(plane, dim) — reproducible
    across executors with no broadcast state. Pass ``weights`` (a list of
    ``n_planes`` integer lists, e.g. from :func:`lcg_plane_weights`) to pin
    the planes to explicit literals instead — that makes the signature
    re-computable by an external engine (the DuckDB oracle for
    ``emb_ann_recall`` runs the identical planes), at the cost of inlining
    n_planes × dim literals into the plan (fine for index-build-time use)."""
    if weights is not None:
        if len(weights) != n_planes:
            raise ValueError(f"expected {n_planes} weight rows, got {len(weights)}")
        dim = len(weights[0])
        if any(len(row) != dim for row in weights):
            raise ValueError("weight rows must all have the same length")
        # Loud dimension guard: a vector shorter/longer than the weight
        # rows would zip_with-pad with NULLs, NULL the dot product, and
        # silently zero every plane bit (collapsing LSH to one bucket).
        # raise_error turns that silent degradation into a job failure,
        # matching the DuckDB oracle side, which errors on the mismatch.
        #
        # The whole signature is ONE F.expr SQL string rather than a
        # Python-composed chain of n_planes x dim literal Columns: the
        # per-literal Column API paid one py4j round-trip per node
        # (measured 0.7-0.9 s of pure DRIVER plan-build time per
        # signature at 8 planes x 64 dims — most of emb_ann_recall's
        # wall), while one SQL string parses JVM-side in milliseconds.
        #
        # r16: the per-plane sum is ONE aggregate/transform fold over a
        # single 2-D weight table instead of n_planes separate
        # IF(zip_with/aggregate) terms, and the weights enter the plan
        # as ONE from_json(<json string literal>) node rather than
        # n_planes×dim Literal nodes. Parsing was never the cost —
        # Catalyst ANALYSIS was: every DataFrame op above this
        # projection re-walks the expression tree, and at 8×64 the 512
        # literal nodes taxed each of lsh_topk's ~7 downstream ops
        # 40–90 ms (r16 build audit; the signature is analyzed twice —
        # corpus + query side). from_json of a literal is foldable, so
        # the optimizer COLLAPSES it to a single array literal exactly
        # once per query (verified absent from the optimized plan — no
        # per-row parsing), while analysis walks one string node.
        # Values are bit-identical: JSON doubles parse to the same
        # doubles the old literals held (verified by collect equality),
        # the inner zip_with/aggregate dot is the same fold in the same
        # order, shiftleft(1, p) is the same int the old 1 << p literal
        # inlined, and the outer aggregate adds plane terms in the same
        # p=0..n-1 left-to-right order as the old left-associated `+`
        # chain (integer adds — exact).
        import json as _json

        guard = (
            f"CASE WHEN size({vec_col}) != {dim} THEN "
            f"cast(raise_error(concat("
            f"'lsh_signature: vector dim != weight dim {dim} (got ', "
            f"cast(size({vec_col}) as string), ')')) as int) ELSE 0 END"
        )
        # allow_nan=False: a NaN/inf weight raises here instead of
        # emitting a NaN literal whose comparison silently sets a bit
        js = _json.dumps([[float(x) for x in row] for row in weights], allow_nan=False)
        fold = (
            f"aggregate(transform(sequence(0, {n_planes - 1}), p -> "
            f"IF(aggregate(zip_with({vec_col}, "
            f"element_at(from_json('{js}', 'array<array<double>>'), p + 1), "
            f"(v, wv) -> cast(v as double) * wv), cast(0.0 as double), "
            f"(acc, x) -> acc + x) > 0.0D, shiftleft(1, p), 0)), "
            f"0, (acc, x) -> acc + x)"
        )
        return guard + " + " + fold
    return f"""
        aggregate(
          transform(sequence(0, {n_planes} - 1), p ->
            if(aggregate(
                 zip_with({vec_col}, sequence(0, size({vec_col}) - 1),
                          (v, d) -> cast(v as double) * (cast(xxhash64(p, d) % 1000000 as double) / 1000000.0)),
                 cast(0.0 as double), (acc, x) -> acc + x) > 0.0,
               shiftleft(1, p), 0)),
          0, (acc, x) -> acc + x)
        """


def lcg_plane_weights(n_planes: int, dim: int, seed: int = 0xC0FFEE):
    """Deterministic integer hyperplane weights in [-1000, 1000] from a
    64-bit LCG (Knuth MMIX constants). Pure arithmetic — the same rows can
    be emitted as SQL literals for an external oracle engine, which is the
    whole point: engine-independent reproducibility, unlike xxhash64."""
    s = seed & ((1 << 64) - 1)
    out = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            s = (6364136223846793005 * s + 1442695040888963407) % (1 << 64)
            row.append(int((s >> 33) % 2001) - 1000)
        out.append(row)
    return out


def lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 12,
    probe_hamming: int = 2,
    weights=None,
) -> DataFrame:
    """ANN top-k: probe corpus buckets whose signature is within
    ``probe_hamming`` bits of the query's. Bucket join is an equi-join on
    the bucket id after expanding the query's probe set (≤ Σ C(planes,h)
    buckets) — no full-corpus scan. ``weights`` pins explicit hyperplanes
    (see lsh_signature) for oracle-reproducible runs."""
    from pyspark.sql import Window

    # cn/qn: per-row norms factored out of the per-pair cosine (see
    # brute_force_topk — bit-identical value, 1 array fold per candidate
    # pair instead of 3).
    c = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("cv"),
        lsh_signature(vec_col, n_planes, weights).alias("bucket"),
        _norm(vec_col).alias("cn"),
    )
    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        lsh_signature(vec_col, n_planes, weights).alias("qsig"),
        _norm(vec_col).alias("qn"),
    )
    # probe set: all bucket ids within hamming distance (0..probe_hamming),
    # generated generically — a hardcoded h<=2 expansion would silently
    # cap larger probe_hamming values and degrade recall with no signal.
    # Emitted as ONE SQL expression over the literal mask array rather
    # than one Column-API xor per mask (up to 79 masks at 12 planes — a
    # py4j round-trip each of driver build time; qsig ^ 0 ≡ qsig keeps
    # the identity probe). Same int xor, same bucket values.
    from itertools import combinations

    masks = [0]
    for h in range(1, probe_hamming + 1):
        masks += [sum(1 << i for i in bits) for bits in combinations(range(n_planes), h)]
    probe_expr = F.expr(
        f"explode(transform(array({', '.join(str(m) for m in masks)}), m -> qsig ^ m))"
    )
    probes = q.select("query_id", "qv", "qn", probe_expr.alias("bucket"))
    # r16: scoring + ranking fused (7 DataFrame ops instead of 10; each
    # op is an eager ~12 ms py4j analysis round — see brute_force_topk).
    # The self-pair predicate joins the equi-condition (Catalyst pushed
    # the old post-join filter into the join condition anyway), and the
    # window ranks by the same raw cos expression; round(,6) still
    # applies only to the emitted value. Bit-identical output.
    cos = _dot("cv", "qv") / (F.col("cn") * F.col("qn"))
    w = Window.partitionBy("query_id").orderBy(cos.desc(), "doc_id")
    return (
        c.join(
            F.broadcast(probes),
            (c["bucket"] == probes["bucket"])
            & (F.col("doc_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "doc_id",
            F.round(cos, 6).alias("cos_sim"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "cos_sim")
    )


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_lists: int = 16,
    n_probes: int = 3,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into n_lists
    cells (the index build — done once, at write time in production), then
    each query scores only its n_probes nearest cells. Complements
    lsh_topk: IVF adapts to the data distribution where LSH is oblivious.

    Uses pyspark.ml KMeans (deterministic via seed); scoring stays in
    higher-order array functions."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import Window

    c = corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("cv")).withColumn(
        "features", array_to_vector(F.col("cv").cast("array<double>"))
    )
    model = KMeans(k=n_lists, seed=seed, featuresCol="features", predictionCol="cell").fit(c)
    # per-row norm factored out of the per-pair cosine (see
    # brute_force_topk — bit-identical)
    indexed = model.transform(c).select(
        "doc_id", "cv", "cell", _norm("cv").alias("cn")
    )

    # broadcastable centroid table for query routing
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        ["cell", "centroid"],
    )
    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(vec_col).alias("qn"),
    )
    # rank cells per query by centroid distance, keep n_probes
    # one-expr form of the old Column-API zip_with/aggregate (identical
    # fold, see _dot) — saves the per-lambda py4j build cost
    dist2 = F.expr(
        "aggregate(zip_with(qv, centroid, "
        "(a, b) -> (cast(a as double) - b) * (cast(a as double) - b)), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", dist2)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probes)
        .select("query_id", "qv", "qn", "cell")
    )
    # r16: scoring + ranking fused — same op-count/analysis-cost rewrite
    # as lsh_topk/brute_force_topk, bit-identical output.
    cos = _dot("cv", "qv") / (F.col("cn") * F.col("qn"))
    w = Window.partitionBy("query_id").orderBy(cos.desc(), "doc_id")
    return (
        indexed.join(
            F.broadcast(probes),
            (indexed["cell"] == probes["cell"])
            & (F.col("doc_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "doc_id",
            F.round(cos, 6).alias("cos_sim"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "cos_sim")
    )
