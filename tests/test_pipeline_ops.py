"""Pipeline-operator correctness: LSH families verified against exact
brute-force baselines computed in-process; multimodal plumbing verified
for determinism and shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from river_spark.operators.asof import asof_join
from river_spark.operators.dedup import (
    cosine_dedup,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    shingles,
    simhash_pairs,
    simhash_signatures,
)
from river_spark.operators.multimodal import (
    decode_image_features,
    sample_frames,
    with_payload_metadata,
)
from river_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "an entirely different document about spark query engines and shuffles",
        "numbers and words mixed tokens for the third unique document here now",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        rows.append((i * 10 + 1, t))  # exact dup
    # near-dup of doc 0: one token changed
    rows.append((100, base[0].replace("lazy", "sleepy")))
    # unrelated
    rows.append((200, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_dups(docs):
    pairs = minhash_dedup(docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.3)
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs.collect()}
    # exact duplicates must estimate 1.0
    for a, b in [(0, 1), (10, 11), (20, 21)]:
        assert got.get((a, b)) == 1.0, got
    # near-dup pair found with high-but-sub-1 estimate
    assert any((a, b) in got for a, b in [(0, 100), (1, 100)]), got
    # unrelated docs never pair with the English docs
    assert not any(200 in p for p in got)


def test_minhash_signature_shape(docs):
    sigs = minhash_signatures(shingles(docs, "doc_id", "text"), num_hashes=32)
    row = sigs.first()
    assert len(row.sig) == 32
    # identical docs → identical signatures
    m = {r.doc_id: tuple(r.sig) for r in sigs.collect()}
    assert m[0] == m[1] and m[10] == m[11]


def test_simhash(docs):
    sigs = simhash_signatures(docs, "doc_id", "text")
    m = {r.doc_id: tuple(r.chunks) for r in sigs.collect()}
    assert m[0] == m[1]  # identical text → identical simhash
    pairs = simhash_pairs(sigs, max_hamming=16)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 1)) == 0
    assert any((a, b) in got for a, b in [(0, 100), (1, 100)])  # near-dup within 16 bits


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(20, 16).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # near-duplicates of vec 0 and 5
    for j, src in [(100, 0), (105, 5)]:
        perturbed = base[src] + rng.randn(16).astype(np.float32) * 0.01
        rows.append((j, [float(x) for x in perturbed]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_dedup(vectors):
    pairs = cosine_dedup(vectors, "vec_id", "embedding", n_planes=10, threshold=0.98)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 100) in got and (5, 105) in got


def test_lsh_topk_recall_vs_brute_force(vectors):
    queries = vectors.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(vectors, queries, "vec_id", "embedding", k=5)
    approx = lsh_topk(vectors, queries, "vec_id", "embedding", k=5, n_planes=8, probe_hamming=2)
    e = {(r.query_id, r.doc_id) for r in exact.collect()}
    a = {(r.query_id, r.doc_id) for r in approx.collect()}
    # Random gaussian vectors are near-orthogonal, so "neighbors" are weak
    # and probe_hamming=2 covers only 37/256 buckets — partial recall on
    # noise is expected; the hard guarantee is the planted near-dup below.
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"recall {recall} too low ({len(e & a)}/{len(e)})"
    # the planted near-dup must be rank-1 for query 0 in BOTH
    top_exact = exact.filter(F.col("query_id") == 0).orderBy(F.desc("cos_sim")).first()
    assert top_exact.doc_id == 100
    top_approx = approx.filter(F.col("query_id") == 0).orderBy(F.desc("cos_sim")).first()
    assert top_approx.doc_id == 100
    # top-k edges: docs 1, 2 and 3 all score cosine 1.0 against query 0,
    # so k=2 cuts inside the tie and doc_id breaks it; a k past the
    # group's size returns the whole group
    tie = vectors.sparkSession.createDataFrame(
        [(0, [1.0, 0.0]), (3, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [2.0, 0.0]), (4, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    q0 = tie.filter(F.col("vec_id") == 0)
    cut = brute_force_topk(tie, q0, "vec_id", "embedding", k=2).collect()
    assert sorted((r.doc_id, r.cos_sim) for r in cut) == [(1, 1.0), (2, 1.0)]
    whole = brute_force_topk(tie, q0, "vec_id", "embedding", k=10).collect()
    assert sorted(r.doc_id for r in whole) == [1, 2, 3, 4]


def test_asof_directions(spark):
    left = spark.createDataFrame([(1, 10, "l1"), (1, 20, "l2"), (2, 5, "l3")], ["k", "t", "lv"])
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (2, 9, "r9")], ["k2", "t2", "rv"]
    )
    back = asof_join(left, right, "k", "k2", "t", "t2", ["rv"]).collect()
    m = {(r.k, r.t): r.rv for r in back}
    assert m[(1, 10)] == "r10"  # inclusive
    assert m[(1, 20)] == "r15"
    assert m[(2, 5)] is None  # no earlier right row
    strict = asof_join(left, right, "k", "k2", "t", "t2", ["rv"], strict=True).collect()
    ms = {(r.k, r.t): r.rv for r in strict}
    assert ms[(1, 10)] is None  # exclusive: r10 not eligible
    fwd = asof_join(left, right, "k", "k2", "t", "t2", ["rv"], direction="forward").collect()
    mf = {(r.k, r.t): r.rv for r in fwd}
    assert mf[(2, 5)] == "r9" and mf[(1, 20)] is None


@pytest.fixture(scope="module")
def payloads(spark):
    return spark.createDataFrame(
        [(1, b"PNG!" + b"x" * 100), (2, b"RIFF" + bytes(range(200)))], ["doc_id", "payload"]
    )


def test_payload_metadata(payloads):
    rows = {r.doc_id: r for r in with_payload_metadata(payloads, "payload").collect()}
    assert rows[1].payload_bytes == 104
    assert rows[1].payload_magic == "504E4721"  # 'PNG!'
    assert rows[2].payload_magic == "52494646"  # 'RIFF'
    assert len(rows[1].payload_sha) == 64


def test_fake_decode_deterministic(payloads):
    a = {r.doc_id: r for r in decode_image_features(payloads, "doc_id", "payload").collect()}
    b = {r.doc_id: r for r in decode_image_features(payloads, "doc_id", "payload").collect()}
    assert a[1].features == b[1].features
    assert len(a[1].features) == 16
    assert abs(sum(a[1].features) - 1.0) < 1e-5  # normalized histogram
    with pytest.raises(NotImplementedError):
        decode_image_features(payloads, "doc_id", "payload", decoder="pillow")


def test_frame_sampling(payloads):
    frames = sample_frames(payloads, "doc_id", "payload", n_frames=4).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert len(per_doc[1]) == 4
    assert all(r.frame_bytes == 104 // 4 for r in per_doc[1])
    # frames concatenate back to a prefix of the original payload
    joined = b"".join(bytes(r.frame_payload) for r in sorted(per_doc[1], key=lambda r: r.frame_no))
    assert joined == (b"PNG!" + b"x" * 100)[: 4 * (104 // 4)]


def test_resize_matches_reference_arithmetic(payloads):
    """Fake resize is a pure function of the payload: recompute the
    nearest-neighbor byte picks in plain Python and compare byte-for-byte;
    empty payloads resize to empty."""
    from river_spark.operators.multimodal import resize_image

    got = {r.doc_id: r for r in resize_image(payloads, "doc_id", "payload", 8, 8).collect()}
    for r in payloads.collect():
        buf = bytes(r.payload)
        L = len(buf)
        out = got[r.doc_id]
        if L == 0:
            assert (out.src_w, out.src_h, bytes(out.resized)) == (1, 1, b"")
            continue
        w, h = (L % 1920) + 1, (L % 1080) + 1
        expect = bytes(
            buf[((rr * h // 8) * w + (cc * w // 8)) % L] for rr in range(8) for cc in range(8)
        )
        assert (out.src_w, out.src_h) == (w, h)
        assert bytes(out.resized) == expect


def test_resize_real_codec_slot_is_stubbed(payloads):
    from river_spark.operators.multimodal import resize_image

    with pytest.raises(NotImplementedError):
        resize_image(payloads, "doc_id", "payload", resizer="pillow")


def test_ivf_topk_vs_brute_force(vectors):
    from river_spark.operators.similarity import ivf_topk

    queries = vectors.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(vectors, queries, "vec_id", "embedding", k=5)
    approx = ivf_topk(vectors, queries, "vec_id", "embedding", k=5, n_lists=4, n_probes=2)
    e = {(r.query_id, r.doc_id) for r in exact.collect()}
    a = {(r.query_id, r.doc_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"recall {recall} ({len(e & a)}/{len(e)})"
    # planted near-dup of query 0 must be rank-1 (same cell by construction)
    top = approx.filter(F.col("query_id") == 0).orderBy(F.desc("cos_sim")).first()
    assert top.doc_id == 100
    # determinism: same seed, same result set
    again = ivf_topk(vectors, queries, "vec_id", "embedding", k=5, n_lists=4, n_probes=2)
    assert {(r.query_id, r.doc_id) for r in again.collect()} == a


def test_ngram_jaccard_stop_shingle_guard(spark):
    """A shingle planted in EVERY document must not blow up pair
    generation: with df_cap below its document frequency the universal
    shingle is dropped from the inverted index, and only genuinely
    similar pairs survive."""
    from river_spark.operators.dedup import ngram_jaccard_pairs

    hot = "aaa bbb ccc"  # one universal 3-shingle across all docs
    rows = [(i, f"{hot} unique{i} token{i} filler{i} word{i}") for i in range(200)]
    rows.append((900, rows[0][1]))  # one true exact dup of doc 0
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, df_cap=50)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == {(0, 900)}
    # without the cap the same corpus produces ~200²/2 candidate pairs at
    # the intersection stage; with it, pair expansion is bounded by df_cap


def test_ngram_jaccard_cap_above_df_is_exact(spark):
    """With df_cap above every shingle's document frequency the result is
    identical to the uncapped exact computation."""
    from river_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "a completely different text with other words entirely"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.05, df_cap=10_000)
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in capped.collect()} == {(1, 2, 1.0)}


def test_registry_queries_leave_no_cached_rdds(spark):
    """Persist discipline for the dedup/vector family. Single-consumer
    pipelines must not cache anything. Since round 15 two queries
    deliberately persist bounded DECISION tables whose re-computation
    the r15 plan audit measured as 2-4 full corpus passes per run
    (dedup_minhash_lsh's 64-minhash signature table — 3 consumers —
    and decontam's candidate-id/candidate-shingle tables): for those
    the gate pins an exact, small cache-entry count (a growth here
    means a NEW unreviewed persist) and verifies clearCache() reclaims
    everything — the hook the bench and any long-running session use."""
    import os

    from river_spark.queries import QUERIES

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    # start from a clean slate: an earlier test in this shared session may
    # legitimately hold the FINAL iteration blocks of a graph query
    # (connected_components' result lineage is its last localCheckpoint,
    # freed by the ContextCleaner only after the consumer drops it)
    sc = spark.sparkContext._jsc.sc()
    it = sc.getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    spark.catalog.clearCache()
    expected_cached = {
        "dedup_minhash_lsh": 1,  # the persisted signature table
        "dedup_simhash": 0,
        "emb_cosine_dedup": 0,
        "dedup_ngram_jaccard": 0,
        "ev_rollup_cascade": 0,
    }
    for name, want in expected_cached.items():
        QUERIES[name].fn(spark, sf).count()
        cached = spark.sparkContext._jsc.sc().getPersistentRDDs()
        assert cached.size() == want, (
            f"{name} left {cached.size()} cached RDDs, expected {want}"
        )
        spark.catalog.clearCache()
        cached = spark.sparkContext._jsc.sc().getPersistentRDDs()
        assert cached.isEmpty(), (
            f"{name}: clearCache() left {cached.size()} RDDs cached"
        )


def test_two_phase_guard_drops_hot_key_before_aggregation(spark):
    """The skew guard must be structurally incapable of building an
    in-memory array for a hot bucket: in the optimized plan the ONLY
    collect_list aggregate sits ABOVE the window-count Filter, so an
    over-cap key's rows are discarded before any aggregation buffer sees
    them — the membership count runs in WindowExec, whose per-key group
    buffer is SPILLABLE, so at 100 TB a stop-shingle in 10⁸ docs costs
    bounded disk, never a GB array row. The window also must not add an
    exchange of its own: one shuffle total (r16 — the former join-phased
    guard paid an extra count exchange + semi join per family)."""
    import re

    from river_spark.operators.dedup import _two_phase_group

    rows = [("hot", i) for i in range(500)] + [("cold", 1), ("cold", 2)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = _two_phase_group(df, ["k"], F.collect_list("v"), max_bucket=100)
    # capture plans BEFORE executing (an executed adaptive plan prints
    # Final AND Initial sections, double-counting every node)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    filt_at = opt.index("Filter")
    assert opt.index("collect_list") < filt_at, "array agg must be above the guard filter"
    assert "collect_list" not in opt[filt_at:], "no array agg may run below the guard"
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in phys, "guard count must run as a window over the bucket exchange"
    shuffles = re.findall(r"Exchange (?:hash|range|Single)", phys)
    assert len(shuffles) <= 1, f"guard must share the one bucket exchange, got {shuffles}"
    got = out.collect()
    assert len(got) == 1 and got[0].k == "cold" and sorted(got[0].docs) == [1, 2]


def test_two_phase_guard_hot_bucket_family_end_to_end(spark):
    """Family-level hot-key drill: 300 byte-identical docs form one
    over-cap simhash bucket per band; the guard drops them all while the
    planted under-cap pair still verifies at Hamming 0 — and the
    signature pipeline is built exactly ONCE (the window-phased guard
    has a single consumer chain, so the plan must not re-execute the
    signature aggregation for a count branch)."""
    rows = [(i, "all these hot documents share the very same text body") for i in range(300)]
    rows += [
        (9001, "pair doc alpha beta gamma delta epsilon zeta eta theta"),
        (9002, "pair doc alpha beta gamma delta epsilon zeta eta theta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = simhash_pairs(
        simhash_signatures(docs, "doc_id", "text"), max_hamming=8, max_bucket=100
    )
    # capture the static plan BEFORE executing (an executed adaptive plan
    # prints Final AND Initial sections, double-counting every node)
    phys = pairs._jdf.queryExecution().executedPlan().toString()
    scans = phys.count("Scan ExistingRDD") + phys.count("LocalTableScan")
    assert scans == 1, f"signature pipeline must be built once, got {scans} scans"
    got = {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}
    assert got == {(9001, 9002, 0)}


def test_decode_and_resize_tolerate_null_payloads(spark):
    """A NULL binary cell must not fail the job — it decodes/resizes as
    empty instead of crashing np.frombuffer(None)."""
    from river_spark.operators.multimodal import decode_image_features, resize_image

    df = spark.createDataFrame([(1, b"abc"), (2, None)], "doc_id long, payload binary")
    feats = {r.doc_id: r for r in decode_image_features(df, "doc_id", "payload").collect()}
    assert feats[2].n_bytes == 0 and feats[2].width == 1
    rz = {r.doc_id: r for r in resize_image(df, "doc_id", "payload").collect()}
    assert bytes(rz[2].resized) == b"" and rz[2].src_w == 1


def test_lsh_topk_probe_hamming_three(vectors):
    """probe_hamming > 2 must actually probe distance-3 buckets (the flip
    set is generated generically, not hardcoded to h <= 2)."""
    queries = vectors.filter(F.col("vec_id") < 3)
    got = lsh_topk(vectors, queries, "vec_id", "embedding", k=5, n_planes=8, probe_hamming=3)
    assert got.count() > 0  # runs and retrieves beyond the h<=2 probe set


def test_asof_null_payload_null_key_and_ties(spark):
    """Three equi-ASOF semantics pinned: (1) the matched row's NULL payload
    columns stay NULL (no franken-row from older rows), (2) NULL join keys
    never match, (3) equal-(key, ts) right rows attach deterministically."""
    left = spark.createDataFrame(
        [(1, 3), (None, 10)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 1, 5, None), (1, 2, None, 7), (None, 5, 1, 1)],
        "k2 long, t2 long, x long, y long",
    )
    got = {r.k: r for r in asof_join(left, right, "k", "k2", "t", "t2", ["x", "y"]).collect()}
    # true match is (t2=2, x=NULL, y=7): x must NOT be backfilled from t2=1
    assert got[1].x is None and got[1].y == 7
    # NULL key matches nothing, even though a NULL-key right row exists
    assert got[None].x is None and got[None].y is None
    # ties: two right rows at the same (k, ts) — attachment is the
    # deterministic struct-max, stable across repeated runs
    right_t = spark.createDataFrame(
        [(1, 2, 100), (1, 2, 200)], "k2 long, t2 long, v long"
    )
    vals = {
        asof_join(left.filter("k = 1"), right_t, "k", "k2", "t", "t2", ["v"])
        .collect()[0]
        .v
        for _ in range(3)
    }
    assert vals == {200}


def test_cross_corpus_contamination_planted_and_clean(spark):
    from river_spark.queries.curation3 import cross_corpus_contamination

    bench_rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi"),
        (1, "one two three four five six seven eight nine ten eleven twelve thirteen"),
    ]
    corpus_rows = [
        # near-dup of bench 0 (one token appended: J = S/(S+1) ~ 0.92,
        # LSH miss probability ~3e-9 — deterministic in practice)
        (100, bench_rows[0][1] + " tail"),
        # near-dup of bench 1 (same construction; a mid-doc substitution
        # would only give J ~ 0.57, where band-miss odds are real)
        (101, bench_rows[1][1] + " extra"),
        # clean docs sharing no shingles with the benchmark
        (102, "totally unrelated content about distributed query engines and shuffles"),
        (103, "another clean document with its own private vocabulary entirely"),
    ]
    bench = spark.createDataFrame(bench_rows, ["bench_id", "text"])
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    out = cross_corpus_contamination(
        corpus, bench, "doc_id", "bench_id", "text", threshold=0.5
    ).collect()
    hits = {r["doc_id"]: r["bench_id"] for r in out}
    assert hits == {100: 0, 101: 1}
    # one row per contaminated doc, jaccard in range and above threshold
    for r in out:
        assert 0.5 <= r["jaccard"] <= 1.0


def test_cross_corpus_contamination_no_matches(spark):
    from river_spark.queries.curation3 import cross_corpus_contamination

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")], ["bench_id", "text"]
    )
    corpus = spark.createDataFrame(
        [(1, "completely different words with no shingle overlap at all here")],
        ["doc_id", "text"],
    )
    out = cross_corpus_contamination(
        corpus, bench, "doc_id", "bench_id", "text", threshold=0.5
    )
    assert out.count() == 0


def test_cross_corpus_best_match_tiebreak(spark):
    """Two identical benchmark docs: the best match must pick the lower
    bench_id (raw-jaccard tie broken on id)."""
    from river_spark.queries.curation3 import cross_corpus_contamination

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    bench = spark.createDataFrame([(7, text), (3, text)], ["bench_id", "text"])
    corpus = spark.createDataFrame([(500, text + " tail")], ["doc_id", "text"])
    out = cross_corpus_contamination(
        corpus, bench, "doc_id", "bench_id", "text", threshold=0.5
    ).collect()
    assert len(out) == 1
    assert out[0]["bench_id"] == 3


def test_cross_corpus_shuffle_path_matches_broadcast(spark):
    """broadcast_bench=False (the cross-snapshot shape) must produce the
    exact same matches as the broadcast path."""
    from river_spark.queries.curation3 import cross_corpus_contamination

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["bench_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa tail"),
            (101, "no overlap with the benchmark corpus in any shingle window"),
        ],
        ["doc_id", "text"],
    )
    kw = dict(n=3, threshold=0.5)
    a = sorted(
        cross_corpus_contamination(
            corpus, bench, "doc_id", "bench_id", "text", **kw
        ).collect()
    )
    b = sorted(
        cross_corpus_contamination(
            corpus, bench, "doc_id", "bench_id", "text", broadcast_bench=False, **kw
        ).collect()
    )
    assert a == b
    assert [r["doc_id"] for r in a] == [100]


def test_decode_image_features_native(spark):
    """Round-15: decoder='native' dispatches on magic bytes to the
    in-repo codec family and emits REAL dimensions + a 16-bin
    histogram over decoded RGB; undecodable rows yield 0x0 with zero
    features instead of failing the job."""
    import numpy as np

    from river_spark.operators.multimodal import (
        decode_image_features, encode_bmp, encode_png, encode_qoi)
    from river_spark.operators.tiff import encode_tiff

    rng = np.random.default_rng(71)
    img = rng.integers(0, 256, (9, 13, 3)).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png(13, 9, img))),
        (2, bytearray(encode_bmp(13, 9, img))),
        (3, bytearray(encode_qoi(13, 9, img))),
        (4, bytearray(encode_tiff(img))),
        (5, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in decode_image_features(
        df, "doc_id", "payload", decoder="native").collect()}
    hist = np.bincount(img.reshape(-1) >> 4, minlength=16).astype(np.float64)
    hist /= hist.sum()
    for d in (1, 2, 3, 4):
        assert (out[d].width, out[d].height) == (13, 9)
        assert np.allclose(out[d].features, hist, atol=1e-6), d
    assert (out[5].width, out[5].height) == (0, 0)
    assert sum(out[5].features) == 0.0
