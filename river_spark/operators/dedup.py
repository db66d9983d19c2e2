"""Near-duplicate detection at training-data scale.

Four families, all pure DataFrame compositions (no Python in the data
path — every hash is ``xxhash64`` JVM-side):

- **MinHash + LSH banding**: shingle → k min-hashes (one shuffle) → band
  buckets → in-bucket candidate pairs → signature-overlap estimate. The
  classic 100 TB dedup: candidate generation touches only same-bucket
  pairs.
- **SimHash**: 64-bit per-doc signature from token hashes; banding on
  bit-chunks for candidates; exact Hamming distance to verify.
- **Exact n-gram Jaccard**: shingle inverted index with a
  document-frequency cap (stop-shingle drop), in-index pair counting.
- **Embedding cosine**: random-hyperplane sign buckets, exact cosine
  verify.

Plan shape: every family is a single linear pipeline — signatures are
carried THROUGH the bucket shuffle (collect_list of (doc, payload)
structs) and pairs are expanded inside the bucket row, so no stage is
consumed twice and nothing needs persist()/cache(). At 100 TB that
matters twice over: no executor cache pressure, and the only data
movement is one hash shuffle on bounded keys. Bucket skew (a shingle or
band bucket shared by millions of docs) is the known hazard — buckets
wider than ``max_bucket`` (resp. shingles with document frequency over
``df_cap``) are dropped, the standard LSH / stop-shingle guard, so one
hot key can't produce O(n²) pairs. The guard is WINDOW-phased
(:func:`_two_phase_group`): membership is counted per key as a window
count over the one exchange the bucket aggregation already pays —
WindowExec buffers a key group in a SPILLABLE row buffer, so a hot key
costs bounded disk, never an in-memory array — and only keys inside
``2..max_bucket`` reach the ``collect_list``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from river_spark.operators.similarity import dot, norm


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    hashed: bool = False,
    distinct: bool = True,
) -> DataFrame:
    """n-token shingles per document, distinct by default.

    ``hashed=True`` fingerprints each shingle to an int64 — the 100 TB
    default: the dedup shuffle then moves 8-byte longs instead of full
    shingle strings (~2.5x less shuffle IO) and every downstream
    hash/compare runs on a fixed-width key. The fingerprint is a VARIADIC
    ``xxhash64(tok_i, ..., tok_{i+n-1})`` over the token tuple — xxhash64
    chains each argument through the running hash state, so token
    boundaries are preserved without ever materializing the joined
    shingle string (measured 0.47 s -> 0.35 s for the sf0.1 shingle
    stream vs hash-of-concat_ws). Equal token tuples hash equal; distinct
    tuples collide at the birthday bound ~n²/2⁶⁵ (≪1e-9 even at billions
    of distinct shingles). Short docs (< n tokens) hash their truncated
    tuple (try_element_at past the end is NULL, which xxhash64 skips) —
    mirroring the truncated-slice shingle of the string path. NOTE:
    hashed fingerprints are engine-internal ids; they differ from
    xxhash64(shingle string), so a signature table persisted under one
    scheme must be rebuilt to compare under the other.

    ``distinct=False`` skips the dedup shuffle entirely — correct whenever
    every consumer is duplicate-insensitive (min-hash mins, collect_set),
    which saves a full shuffle of the raw shingle stream. (An in-row
    ``array_distinct`` before the explode would make distinct=True free
    too, but Spark evaluates it via interpreted pairwise equality — ~7x
    slower than the exchange it saves at sf0.1; see ngram_jaccard_pairs
    for the collect_set idiom that IS a win.)
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if hashed:
        args = ", ".join(f"try_element_at(t, i + {j})" for j in range(1, n + 1))
        shingle = F.explode(
            F.expr(f"transform(sequence(0, greatest(size(t) - {n}, 0)), i -> xxhash64({args}))")
        )
    else:
        shingle = F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(t) - {n}, 0)), i -> concat_ws(' ', slice(t, i + 1, {n})))"
            )
        )
    out = df.select(F.col(id_col).alias("doc_id"), toks.alias("t")).select(
        "doc_id", shingle.alias("shingle")
    )
    return out.distinct() if distinct else out


def minhash_signatures(sh: DataFrame, num_hashes: int = 64) -> DataFrame:
    """k independent min-hashes per doc in ONE aggregation (k min() columns
    over xxhash64(seed, shingle)); returns doc_id + sig array<long>.
    Feed it hashed shingles (``shingles(..., hashed=True)``) so each of the
    k seed-hashes runs over an 8-byte long, not the shingle string."""
    # One F.expr building array(min(..), min(..), ...) in a single py4j
    # call instead of num_hashes Column-API aggregates + a num_hashes-wide
    # post-select: the per-Column construction paid ~3 JVM round-trips
    # per hash of pure driver plan-build time (r15 build-time audit).
    # The parsed aggregate expressions are identical, so signatures (and
    # every downstream candidate/verify) are unchanged.
    sig = F.expr(
        "array(" + ", ".join(f"min(xxhash64({i}, shingle))" for i in range(num_hashes)) + ")"
    )
    return sh.groupBy("doc_id").agg(sig.alias("sig"))


def _pair_explode(grouped: DataFrame) -> DataFrame:
    """i<j pair expansion of each ``docs`` array as TWO codegen'd
    Generate nodes (r16): posexplode picks element i as ``x``, then an
    explode over ``slice(docs, i + 2, ...)`` pairs it with every later
    element ``y``. Emits one row per unordered in-bucket pair with
    columns ``x``/``y`` — exactly the pair multiset of the former
    ``flatten(transform(docs, (x, i) -> transform(slice(...), ...)))``
    lambda, which Spark evaluated in the INTERPRETER (higher-order
    functions have no codegen): on hot buckets the per-pair lambda eval
    dominated every dedup family's pair stage. slice() and the explodes
    are ordinary codegen operators, so the quadratic stage now runs
    inside WholeStageCodegen; no extra shuffle, join, or persist — the
    expansion still happens inside the bucket row's stage."""
    outer = grouped.select("docs", F.posexplode("docs").alias("i", "x"))
    return outer.select(
        "x", F.explode(F.expr("slice(docs, i + 2, size(docs))")).alias("y")
    )


def _in_bucket_pairs(grouped: DataFrame, payload: str) -> DataFrame:
    """Expand each bucket row (docs: array<struct<doc_id, payload>>) into
    its i<j pairs — pair generation without joining back to the signature
    table, so the signature build is consumed exactly once. Emits
    doc_a/doc_b (doc_a < doc_b) with both payloads (codegen'd expansion,
    see :func:`_pair_explode`)."""
    swap = F.col("x.doc_id") < F.col("y.doc_id")
    lo = F.when(swap, F.col("x")).otherwise(F.col("y"))
    hi = F.when(swap, F.col("y")).otherwise(F.col("x"))
    return _pair_explode(grouped).select(
        lo["doc_id"].alias("doc_a"),
        hi["doc_id"].alias("doc_b"),
        lo[payload].alias(f"{payload}_a"),
        hi[payload].alias(f"{payload}_b"),
    )


def _two_phase_group(
    exploded: DataFrame,
    keys: list[str],
    agg_col,
    max_bucket: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Skew-safe bucket materialization, WINDOW-phased (r16): the per-key
    membership count runs as ``count(*) over (partition by keys)`` on the
    ONE exchange the bucket ``collect_list`` already needs, keys outside
    ``2..max_bucket`` are filtered before the array aggregate, and the
    final groupBy reuses the window's partitioning — one shuffle total.
    The r7–r15 shape counted per key with a separate partial aggregate
    and dropped over-cap keys with a left-semi join; that cost an extra
    (tiny) count exchange plus a join stage PER family, which at bench
    SFs was pure sequential stage latency (r16 interleaved A/B:
    dedup_minhash_lsh 2.60 → 2.03 s min-of-6, plan 8 → 6 exchanges,
    output identical).

    Skew posture is unchanged where it matters: the join-phased variant
    ALSO moved every hot-key row through the same keys-exchange before
    the join dropped them (the semi join sat above the exchange), so
    shuffle bytes are identical; and WindowExec buffers each key group
    in a SPILLABLE row buffer — the same windowed-guard idiom
    :func:`ngram_jaccard_pairs` has always used — so a stop-key shared
    by 10⁸ docs costs bounded disk, never an in-memory array. The
    ``collect_list`` still only ever sees keys the filter kept.

    ``num_partitions`` (r15, opt-in per caller): an explicit repartition
    on the bucket keys BEFORE the window/group chain. Everything
    downstream of the bucket exchange — the window count, collect_list,
    the in-bucket pair expansion, the verify arithmetic — fuses into
    that exchange's stage, and AQE coalesces the exchange by its
    shuffled BYTES, blind to the quadratic per-row pair work
    (dedup_simhash's bucket stage coalesced to ONE task at sf0.1). The
    explicit count opts out of coalescing and REPLACES the required
    exchange (hash partitioning on the same keys), so the shuffle count
    is unchanged. None (the default, all other callers) keeps the
    AQE-planned shape.

    NULL keys form one window group, so rows with a NULL key are counted,
    capped and collected together as one bucket (the old semi join
    dropped them). No caller has one: ``band`` is a posexplode position,
    and ``bucket`` is an ``xxhash64`` output (MinHash bands, cosine
    signatures) or a SimHash chunk of an ``xxhash64`` built with
    ``when``/``otherwise`` — never NULL. There is deliberately no filter."""
    from pyspark.sql import Window

    if num_partitions is not None:
        exploded = exploded.repartition(num_partitions, *keys)
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    kept = exploded.withColumn("_n", n).filter(
        (F.col("_n") > 1) & (F.col("_n") <= max_bucket)
    )
    return kept.groupBy(*keys).agg(agg_col.alias("docs"))


def _band_hash_expr(bands: int, sig_len: int | None = None) -> str:
    """Per-band bucket hash over the signature array. When the signature
    length is known at plan-build time (and divides evenly), hash the
    slice elements VARIADICALLY — xxhash64(b, sig[i], sig[i+1], ...) —
    instead of concat_ws'ing longs into a string first: measured 2.3 s
    -> 1.8 s for the whole band stage at sf0.1 (string building was the
    cost, not the shuffle). Unknown/ragged lengths fall back to the
    string form, which handles any size at runtime."""
    if sig_len is not None and sig_len % bands == 0:
        r = sig_len // bands
        args = ", ".join(f"element_at(sig, b*{r}+{j})" for j in range(1, r + 1))
        return f"transform(sequence(0, {bands - 1}), b -> xxhash64(b, {args}))"
    return (
        f"transform(sequence(0, {bands} - 1), "
        f"b -> xxhash64(b, concat_ws(',', slice(sig, b * (size(sig) div {bands}) + 1, size(sig) div {bands}))))"
    )


def _band_buckets(
    sigs: DataFrame, bands: int, max_bucket: int, sig_len: int | None = None
) -> DataFrame:
    """Band the signature; group docs (carrying their sig) per band-bucket;
    degenerate buckets wider than max_bucket are dropped before the array
    is ever built (two-phase guard)."""
    banded = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(F.expr(_band_hash_expr(bands, sig_len))).alias("band", "bucket"),
    )
    return _two_phase_group(
        banded, ["band", "bucket"], F.collect_list(F.struct("doc_id", "sig")), max_bucket
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    max_bucket: int = 1000,
    sig_len: int | None = None,
    distinct_pairs: bool = True,
) -> DataFrame:
    """Candidate pairs [doc_a, doc_b] sharing any band-bucket (distinct
    by default).

    Candidate-only shape: consumers exact-verify afterwards, so the band
    shuffle carries ONLY doc ids — not the 64-long signature array the
    estimate path (minhash_dedup) needs: 8 B/doc/band through the
    exchange instead of ~520 B. Pass ``sig_len`` (the minhash count)
    when known so band hashing runs variadically over the slice elements
    (see _band_hash_expr).

    ``distinct_pairs=False`` skips the pair-dedup exchange (one full
    stage) and emits one row per (pair, shared band). Correct whenever
    the consumer is duplicate-insensitive — e.g. a downstream left-semi
    join on the pair's docs, as in ``dedup_minhash_lsh``, where the
    verify dedupes anyway. The trade at scale: estimate-stage work
    multiplies by the pair's shared-band count (≤ ``bands``, typically
    1-3 organically), in exchange for never shuffling the pair stream
    twice."""
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.expr(_band_hash_expr(bands, sig_len))).alias("band", "bucket"),
    )
    grouped = _two_phase_group(
        banded, ["band", "bucket"], F.collect_list("doc_id"), max_bucket
    )
    # codegen'd i<j expansion (see _pair_explode); docs is a plain
    # array<long> here, so x/y ARE the doc ids
    pairs = _pair_explode(grouped).select(
        F.least("x", "y").alias("doc_a"), F.greatest("x", "y").alias("doc_b")
    )
    return pairs.distinct() if distinct_pairs else pairs


def estimate_filtered_candidates(
    sigs: DataFrame, cand: DataFrame, margin_est: float = 0.65
) -> DataFrame:
    """Signature-overlap estimate prefilter between LSH banding and the
    exact verify — the stage that keeps near-duplicate FAMILIES from
    melting the verify at scale.

    Banding geometry is tuned for recall at the target threshold, and its
    s-curve has a fat false-positive tail at mid Jaccard: with 16 bands x
    4 rows, a pair at J=0.5 becomes a candidate w.p. ~0.64. A corpus with
    w-wide families of semi-duplicates (boilerplate variants, templated
    pages — and this repo's own 30x scaling replica) therefore produces
    O(families x w²) candidates; the round-7 deep probe measured 2045x
    candidate growth for 30x data, and the doc-restricted exact verify
    degenerated toward full-corpus cost (64 s vs ~3 s linear).

    The fix is O(1) per candidate: both 64-long signatures are already
    computed, so the pair's estimated Jaccard (matching-minhash fraction)
    filters BEFORE any shingle-level work. At ``margin_est=0.65`` with 64
    hashes, a true pair at J>=0.9 is dropped w.p. = exact binomial tail
    P(Bin(64, 0.9) <= 41) ~= 2.4e-8 — the same order as the banding miss
    probability (~4e-8) the pipelines already document — while a J=0.5
    family pair passes w.p. only 0.016 (98.4% candidate reduction).
    Soundness is untouched: the exact verify still decides membership."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    # one-expr form of the old Column-API zip_with/aggregate lambdas
    # (identical fold — same casts, same int seed; saves ~10 py4j
    # round-trips of driver build time per call site)
    matches = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> cast(x = y as int)), "
        "0, (acc, x) -> acc + x)"
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(matches / F.size("sig_a") >= margin_est)
        .select("doc_a", "doc_b")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Full pipeline → [doc_a, doc_b, est_jaccard] for pairs whose
    signature-overlap estimate >= threshold.

    One linear plan: shingle → signature → band shuffle → in-bucket pair
    expansion (signatures travel with the docs) → estimate → pair-dedup.
    The signature aggregation is consumed exactly once, so nothing is
    persisted; the only quadratic-risk stage is bounded by max_bucket."""
    sh = shingles(df, id_col, text_col, n, hashed=True, distinct=False)
    sigs = minhash_signatures(sh, num_hashes)
    # num_hashes is known here, so band hashing always takes the variadic
    # fast path (see _band_hash_expr)
    pairs = _in_bucket_pairs(_band_buckets(sigs, bands, max_bucket, sig_len=num_hashes), "sig")
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = matches / F.size("sig_a")
    return (
        pairs.select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("doc_a", "doc_b")  # same pair may surface from several bands
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted index + stop-shingle guard)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.05,
    df_cap: int = 100_000,
) -> DataFrame:
    """Exact n-token-shingle Jaccard pairs above ``threshold`` via a
    shingle inverted index: only docs sharing a shingle ever meet, so the
    pair space is data-bounded, not O(n²).

    ``df_cap`` is the stop-shingle guard (mirror of max_bucket in the LSH
    families): a shingle appearing in more than df_cap documents is
    dropped from PAIR GENERATION — without it one ubiquitous shingle
    produces a near-quadratic pair explosion on skewed corpora. Per-doc
    shingle counts (the Jaccard denominator) are computed before the cap,
    so results are exact whenever the true intersection contains at least
    one sub-cap shingle; set df_cap above the corpus max df for fully
    exact output.

    Skew safety here is WINDOW-phased rather than join-phased: each
    shingle's document frequency is computed as ``count(*) over
    (partition by shingle)`` — WindowExec buffers a partition-key group
    in a spillable row buffer, so a stop-shingle in 10⁸ docs costs
    bounded disk, never an in-memory array — and over-cap shingles are
    filtered BEFORE the collect_list, which then runs on data already
    partitioned by shingle (no extra exchange on the index branch).

    The per-doc denominator shares the dedup exchange instead of owning
    one: the raw (duplicate-bearing) shingle stream is collect_set-ted
    per doc — partial aggregation dedups map-side, so the one exchange
    moves distinct (doc, shingle) pairs, exactly what the old
    ``distinct()`` moved — and ``c = size(set)`` then travels WITH each
    doc_id through the index (8 extra bytes per shingle row in the
    window exchange). Pairs carry (ca, cb) out of the bucket expansion
    inside the pair lambda itself, which eliminates the former count
    branch AND both join-backs. Three exchanges total: per-doc set,
    shingle window, pair groupBy — vs round 6's distinct + window +
    count + pair + 2 joins. Measured 2.14 s -> 1.43 s at sf0.1 (same
    session, interleaved), with the variadic shingle hash (see
    ``shingles``) contributing ~0.3 s of that."""
    pair = _shingle_pair_counts(df, id_col, text_col, n, df_cap)
    jac = F.col("inter") * 1.0 / (F.col("ca") + F.col("cb") - F.col("inter"))
    return (
        pair.filter(jac >= threshold)
        # RAW ratio, not round(,6): integer-ratio doubles are bit-identical
        # across engines, while round() diverges on exact decimal midpoints
        # (e.g. 115/128) — see tests/test_oracle.py docstring
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _shingle_pair_counts(
    df: DataFrame, id_col: str, text_col: str, n: int, df_cap: int
) -> DataFrame:
    """(doc_a, doc_b, inter, ca, cb) for every doc pair sharing at least
    one sub-cap shingle — the shared core of the exact Jaccard and
    containment detectors (plan shape documented on
    :func:`ngram_jaccard_pairs`, which this was factored from)."""
    from pyspark.sql import Window

    sh = shingles(df, id_col, text_col, n, hashed=True, distinct=False)
    per_doc = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("ss"))
    base = per_doc.select("doc_id", F.size("ss").alias("c"), F.explode("ss").alias("shingle"))
    shw = base.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
    index = (
        shw.filter((F.col("_df") > 1) & (F.col("_df") <= df_cap))
        .groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "c")).alias("docs"))
    )
    # r16: i<j pair emission as TWO codegen'd Generate nodes (posexplode
    # + explode over a slice) instead of one interpreted
    # flatten(transform(transform)) lambda. Spark evaluates higher-order
    # functions in the interpreter, and on near-dup-rich corpora that
    # per-pair lambda dominated the query (r15 phase profile: ~2.3 s of
    # dedup_ngram_jaccard, and the same code again inside
    # dedup_minhash_lsh's exact-verify arm); slice/least/greatest/when
    # are ordinary codegen expressions, so the whole pair stage now runs
    # in WholeStageCodegen. Pair multiset is identical (same i<j
    # positions of the same posting list), plan shape unchanged — same 3
    # exchanges, no join, no persist, no broadcast — in both the
    # broadcast and the SMJ-only (100 TB) planning modes. Measured at
    # sf0.1: 2.26 -> ~1.45 s; a persist+self-join variant (r15 verdict
    # sketch) tied locally but planned 2 extra index exchanges under
    # SMJ-only mode and holds cache memory, so this shape wins at scale.
    return (
        _pair_explode(index)
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            F.when(F.col("x.doc_id") < F.col("y.doc_id"), F.col("x.c"))
            .otherwise(F.col("y.c"))
            .alias("ca0"),
            F.when(F.col("x.doc_id") < F.col("y.doc_id"), F.col("y.c"))
            .otherwise(F.col("x.c"))
            .alias("cb0"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            # ca/cb are constant per doc — max() is a deterministic pick
            F.max("ca0").alias("ca"),
            F.max("cb0").alias("cb"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 100_000,
) -> DataFrame:
    """Asymmetric near-dup detection: containment C(S, L) =
    |shingles(S) ∩ shingles(L)| / |shingles(S)| for the SMALLER doc of
    each candidate pair — the sub-document-duplication metric (Broder's
    containment): a snippet quoted inside a much larger page scores
    C ≈ 1 while its Jaccard stays tiny, so a Jaccard-only pipeline ships
    the duplicate. Same inverted-index candidate generation and df-cap
    skew guard as :func:`ngram_jaccard_pairs` (one extra projection on
    the shared pair stream); jaccard rides along for the contrast.

    Ratios are RAW integer-ratio doubles (bit-identical cross-engine)."""
    pair = _shingle_pair_counts(df, id_col, text_col, n, df_cap)
    c_small = F.least("ca", "cb")
    containment = F.col("inter") * 1.0 / c_small
    jac = F.col("inter") * 1.0 / (F.col("ca") + F.col("cb") - F.col("inter"))
    doc_small = F.when(F.col("ca") <= F.col("cb"), F.col("doc_a")).otherwise(
        F.col("doc_b")
    )
    doc_big = F.when(F.col("ca") <= F.col("cb"), F.col("doc_b")).otherwise(
        F.col("doc_a")
    )
    return pair.filter(containment >= threshold).select(
        doc_small.alias("doc_small"),
        doc_big.alias("doc_big"),
        # size() is int32; the oracle's count(*) is BIGINT
        c_small.cast("long").alias("n_shingles_small"),
        F.col("inter").alias("n_shared"),
        containment.alias("containment"),
        jac.alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_chunks: int = 8
) -> DataFrame:
    """64-bit SimHash per doc, split into ``n_chunks`` equal bit-chunks
    (array<int>) ready for band-based candidate generation. One explode +
    one groupBy. By pigeonhole, any pair with Hamming distance < n_chunks
    shares at least one chunk, so 8 chunks guarantees candidates for
    Hamming <= 7 (16-bit chunks would miss spread-out flips)."""
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"))
        .select("doc_id", F.explode("t").alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    # per-bit ±1 sums in one aggregation; branch-free (r15): the ±1 term
    # is computed as 2*bit - 1 — the identical integer for both bit
    # values, without a per-row-per-bit conditional (64 of them ran on
    # every token row)
    bit_aggs = [
        F.sum(
            F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"b{i}")
        for i in range(64)
    ]
    per_doc = toks.groupBy("doc_id").agg(*bit_aggs)
    width = 64 // n_chunks
    chunk_exprs = []
    for c in range(n_chunks):
        bits = [
            F.when(F.col(f"b{width * c + j}") > 0, F.lit(1 << j)).otherwise(0)
            for j in range(width)
        ]
        acc = bits[0]
        for e in bits[1:]:
            acc = acc + e
        chunk_exprs.append(acc.cast("int"))
    return per_doc.select("doc_id", F.array(*chunk_exprs).alias("chunks"))


def simhash_pairs(
    sigs: DataFrame,
    max_hamming: int = 12,
    max_bucket: int = 1000,
    num_partitions: int | None = None,
    n_chunks: int = 8,
) -> DataFrame:
    """Candidates share at least one signature chunk (pigeonhole-complete
    for Hamming < n_chunks); exact Hamming verifies. Returns
    [doc_a, doc_b, hamming] with hamming <= max_hamming.

    COMPLETENESS BOUND: candidate generation guarantees every pair at
    Hamming distance < n_chunks (the length of the ``chunks`` array — 8
    by default, so distance <= 7). A ``max_hamming`` at or above
    n_chunks is best-effort recall: a pair whose flips spread across
    every chunk shares no chunk value and is never co-bucketed, while a
    same-distance pair with clustered flips is returned. Callers needing
    guaranteed recall at larger distances must build signatures with
    more (smaller) chunks.

    The signature travels with the docs through the bucket shuffle and
    pairs are expanded in-bucket, so the signature build runs once — no
    persist.

    Per-pair cost (r15): the chunks are the 64-bit simhash split into
    ``n_chunks`` disjoint bit ranges, so they are re-packed into ONE
    bigint before the bucket collect (``sig64 = OR(chunks[c] << width*c)``
    — disjoint ranges, so OR is exact reassembly) and the per-pair
    verify is a single codegen'd ``bit_count(a ^ b)``. The previous
    shape collected the full chunk array per doc and ran an interpreted
    zip_with+aggregate fold per pair — on a hot in-bucket expansion
    (organic at near-dup-rich SFs: one (band,bucket) held 29% of docs at
    sf0.1) that fold dominated the query. bit_count over the XOR of the
    packed words is bit-for-bit the sum of per-chunk bit_counts, and the
    pair payload shrinks from 2 int-arrays to 2 longs."""
    width = 64 // n_chunks
    terms = [
        F.shiftleft(F.col("chunks").getItem(c).cast("bigint"), width * c)
        for c in range(n_chunks)
    ]
    packed = terms[0]
    for t in terms[1:]:
        packed = packed.bitwiseOR(t)
    grouped = _two_phase_group(
        sigs.select(
            "doc_id",
            packed.alias("sig64"),
            F.posexplode("chunks").alias("band", "bucket"),
        ),
        ["band", "bucket"],
        F.collect_list(F.struct("doc_id", "sig64")),
        max_bucket,
        num_partitions=num_partitions,
    )
    pairs = _in_bucket_pairs(grouped, "sig64")
    hamming = F.bit_count(F.col("sig64_a").bitwiseXOR(F.col("sig64_b")))
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")  # same pair may share several chunks
        .agg(F.max("hamming").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (random-hyperplane LSH + exact verify)
# ---------------------------------------------------------------------------
def cosine_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 16,
    threshold: float = 0.95,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate vectors: random-hyperplane sign signature buckets
    candidates, exact cosine verifies. Planes are derived deterministically
    from xxhash64(plane, dim) — no driver-side randomness to broadcast.
    Vectors travel with the docs through the bucket shuffle; pairs are
    expanded in-bucket, so the O(planes x dim) projection runs once."""
    # sign bit p = sign(Σ_d v[d] * plane(p,d)), plane value in [-1, 1)
    sig = F.expr(
        f"""
        transform(sequence(0, {n_planes} - 1), p ->
          aggregate(
            zip_with({vec_col}, sequence(0, size({vec_col}) - 1),
                     (v, d) -> cast(v as double) * (cast(xxhash64(p, d) % 1000000 as double) / 1000000.0)),
            cast(0.0 as double), (acc, x) -> acc + x) > 0.0)
        """
    )
    vecs = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.xxhash64(sig.cast("string")).alias("bucket"),
    )
    grouped = _two_phase_group(
        vecs, ["bucket"], F.collect_list(F.struct("doc_id", "v")), max_bucket
    )
    pairs = _in_bucket_pairs(grouped, "v")
    v_a, v_b = F.col("v_a"), F.col("v_b")
    cos = dot(v_a, v_b) / (norm(v_a) * norm(v_b))
    return (
        pairs.select("doc_a", "doc_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .groupBy("doc_a", "doc_b")  # same pair can't repeat (one bucket per doc) — kept for safety
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


def lsh_incremental_candidate_pairs(
    sigs: DataFrame,
    is_new,
    bands: int = 16,
    max_bucket: int = 1000,
    sig_len: int | None = None,
) -> DataFrame:
    """Candidate pairs that TOUCH a new-arrival doc — the incremental-
    crawl shape, where yesterday's corpus is never re-paired against
    itself. ``is_new`` is a Column marking the day's arrivals (a flag
    expression, NOT a join: the batch membership rides the band row as
    one boolean, so the signature pipeline is never re-executed for a
    probe side). Produces exactly the subset of
    :func:`lsh_candidate_pairs` with at least one new endpoint: same
    banding, same two-phase hot-bucket cap, same in-bucket i<j
    expansion — pairs whose endpoints are BOTH old are dropped at
    emission, before any downstream work.

    100 TB posture: one band shuffle of (doc_id, is_new) — 9 B/doc/band
    — one count pass for the cap, pairs expanded inside the bucket row.
    Emitted pair volume is O(new x bucket_width); old-old pairs are
    generated by the in-bucket expansion but filtered in the SAME stage
    as the explode — they are never shuffled, persisted, or handed to
    the verify join. Day-over-day deployments persist the banded corpus
    table and union the day's band rows; the operator shape is
    unchanged."""
    banded = sigs.select(
        "doc_id",
        is_new.cast("boolean").alias("is_new"),
        F.posexplode(F.expr(_band_hash_expr(bands, sig_len))).alias("band", "bucket"),
    )
    grouped = _two_phase_group(
        banded,
        ["band", "bucket"],
        F.collect_list(F.struct("doc_id", "is_new")),
        max_bucket,
    )
    pairs = _in_bucket_pairs(grouped, "is_new")
    return (
        pairs.where(F.col("is_new_a") | F.col("is_new_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
