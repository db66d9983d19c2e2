"""Sweeping plan lint: every registry query's physical plan is screened
for scale anti-patterns — an accidental CartesianProduct /
BroadcastNestedLoopJoin (outside the queries that intend one) or a
row-at-a-time Python UDF (BatchEvalPython) would melt at 100 TB even
though the local answer is right.

Queries that legitimately need a cross/NL join are not blanket-exempted:
CROSS_OK maps each to the maximum row count its BUILD side may reach,
and the test executes the query and reads the join's real runtime
numOutputRows metrics. Round-9 directive #3 closed a blind spot here:
the old lint bounded the MIN of the two inputs, so a wrong-side
broadcast hint (big build, small stream) passed. Now the bound applies
to the broadcast exchange's build rows — the thing that actually lands
in executor memory — and CartesianProduct (no build side) keeps the
min-side bound. Hinted equi-join builds are gated separately by
tests/test_broadcast_discipline.py (two-SF growth check)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from river_spark.operators.similarity import brute_force_topk
from river_spark.queries import QUERIES
from river_spark.queries.tables import tbl
from river_spark.testing.planwalk import (
    broadcast_join_builds,
    cartesian_min_side,
    final_plan,
    walk,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# queries whose semantics legitimately need a broadcast cross/NL join,
# mapped to the max rows the join's BUILD side may produce at test SF.
# Every bound is the documented cardinality of the intended broadcast
# relation (1-row global scalars, K-row codebooks/centroids, literal
# probe sets) with NO slack — growth past it is a real plan regression.
CROSS_OK = {
    "join_cross_small": 5,          # intentional tiny cross join (region)
    "emb_knn_cosine": 1,            # 1-row broadcast query vector
    "q11_supplier_balance_share": 1,  # broadcast scalar threshold
    "q15_top_supplier": 1,          # broadcast scalar max
    "q22_idle_customers": 1,        # broadcast scalar average
    "emb_cosine_dedup": 8,          # bucket-width literal join
    "emb_ann_ivf": 16,              # n_lists=16 centroid table is the build
    "text_tfidf_top_terms": 1,      # broadcast 1-row corpus doc count (idf N)
    "text_unigram_logprob": 1,      # broadcast 1-row corpus token total
    "emb_cluster_assign": 8,        # broadcast K-row centroid table (K=8)
    "agg_value_histogram": 1,       # broadcast 1-row global [min, max]
    "text_bm25_rank": 1,            # broadcast 1-row corpus stats (N, avgdl)
    "text_bigram_logprob": 1,       # broadcast 1-row vocabulary cardinality
    "emb_ann_recall": 20,           # brute-force side: 20 broadcast queries
    "emb_semdedup": 8,              # broadcast 8-row centroid table
    "emb_kmeans_update": 8,         # broadcast K-row centroid table (K=8)
    "agg_heavy_hitters": 1,         # broadcast 1-row corpus token total
    "graph_triangle_count": 1,      # 1-row stats x 1-row triangle count
    "agg_kruskal_wallis": 1,        # 1-row rank stats x 1-row tie cubes
    "agg_friedman_test": 1,         # 1-row k/n/A2 scalars through the chain
    "emb_mips": 1,                  # 1-row query vector x 1-row max-norm M2
    "pipeline_mix_rebalance": 1,    # broadcast 1-row (total_tokens, n_src)
    "text_vocab_growth": 4,         # broadcast 4-row checkpoint ladder
    "text_js_divergence": 20,       # build = source totals (<=20 sources);
                                    # the corpus vocab stays distributed
    "dq_referential_integrity": 1,  # 1-row count x 1-row orphan count, per rel
    "ev_dense_daily_grid": 5,       # 1-row bounds x 5-row distinct types
    "pipeline_temperature_mix": 1,  # broadcast 1-row (total, z) normalizer
    "ev_markov_entropy_rate": 1,    # broadcast 1-row transition grand total
    "pipeline_dataset_delta": 1,    # chained 1-row version-summary scalars
    "ab_cuped_adjusted": 1,         # broadcast 1-row pooled (theta, rho2)
    "agg_ks_two_sample": 1,         # broadcast 1-row (n1, n2) group totals
    "agg_kmv_overlap": 320,         # build = bottom-K sketch rows, capped at
                                    # K*|segments| = 64*5 BY CONSTRUCTION —
                                    # sketch size is data-independent (that
                                    # is the point of a KMV sketch); the
                                    # pair table (|segments| choose 2) and
                                    # per-segment estimates are smaller still
}


def _worst_bnlj_build(df):
    """Max build-side rows over BroadcastNestedLoopJoin nodes (None if
    no metric / no such join)."""
    worst = None
    for name, rows in broadcast_join_builds(df):
        if "BroadcastNestedLoopJoin" not in name or rows is None:
            continue
        worst = rows if worst is None else max(worst, rows)
    return worst


class _no_auto_broadcast:
    """At test SF both inputs of a cross/NL join are usually under the
    auto-broadcast threshold, so Catalyst may legally build on the
    UNHINTED side — reading that build says nothing about the 100 TB
    plan (where only the intended fixed-cardinality side fits). With
    auto-broadcast off, the surviving broadcast build IS the hinted
    side, so the CROSS_OK bound checks the side that would actually be
    broadcast at scale."""

    KEYS = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.old = {}
        for k in self.KEYS:
            try:
                self.old[k] = self.spark.conf.get(k)
            except Exception:
                self.old[k] = None
            self.spark.conf.set(k, "-1")
        return self.spark

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_scale_antipatterns(name, spark):
    df = QUERIES[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name not in CROSS_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: NL join in plan"
    else:
        with _no_auto_broadcast(spark):
            df = QUERIES[name].fn(spark, SF_DIR)
            df.collect()
            bound = CROSS_OK[name]
            build = _worst_bnlj_build(df)
            if build is not None:
                assert build <= bound, (
                    f"{name}: broadcast NL join BUILD side produced {build} "
                    f"rows, bound is {bound} — the broadcast-small "
                    f"justification no longer holds (or the hint is on the "
                    f"wrong side)"
                )
            small = cartesian_min_side(df)
            if small is not None:
                assert small <= bound, (
                    f"{name}: cartesian product small side produced {small} "
                    f"rows, bound is {bound}"
                )
    # row-at-a-time Python UDFs never allowed; Arrow-batched ones are fine
    assert "BatchEvalPython" not in plan, f"{name}: non-Arrow Python UDF in plan"


# The per-pair cosine fold of the similarity operators (dot("cv", "qv")).
_COSINE_FOLD = re.compile(r"zip_with\(cv#\d+, qv#\d+")


def _brute_force_plan(spark):
    emb = tbl(spark, SF_DIR, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=10)


VECTOR_TOPK = {
    "emb_ann_lsh": lambda spark: QUERIES["emb_ann_lsh"].fn(spark, SF_DIR),
    "emb_ann_ivf": lambda spark: QUERIES["emb_ann_ivf"].fn(spark, SF_DIR),
    "brute_force_topk": _brute_force_plan,
}


@pytest.mark.parametrize("name", sorted(VECTOR_TOPK))
def test_vector_topk_scores_narrow_then_ranks(name, spark):
    """Score narrow, then rank: in the executed plan the cosine fold is
    evaluated once per candidate pair (a window ordered by the raw
    expression while the output rounds it computes the fold twice), and
    no array column is input to a Window, WindowGroupLimit or Sort —
    vectors riding the ranking sort cost memory and spill at scale."""
    df = VECTOR_TOPK[name](spark)
    df.collect()
    nodes = list(walk(final_plan(df)))
    folds = sum(len(_COSINE_FOLD.findall(n.simpleString(10_000))) for n in nodes)
    assert folds == 1, f"{name}: cosine fold evaluated {folds} times"
    for n in nodes:
        if n.nodeName() not in ("Window", "WindowGroupLimit", "Sort"):
            continue
        out = n.child().output()
        attrs = [out.apply(i) for i in range(out.size())]
        arrays = [a.toString() for a in attrs if a.dataType().typeName() == "array"]
        assert not arrays, f"{name}: {n.nodeName()} input carries arrays {arrays}"
