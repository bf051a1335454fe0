"""Large-Star/Small-Star connected components: equality vs the min-label
propagation variant on the real near-dup pair relation, plus adversarial
long-chain and disjoint-cluster graphs where star convergence (O(log^2 n)
rounds) is the point."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_extractor_spark.plans.llm_extras import (
    near_dup_components,
    near_dup_components_star,
)

SF_DIR = "/root/testdata/sf0.01"


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "d1 long, d2 long")


def _docs(spark, n):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_star_equals_propagation_on_long_chain(spark):
    """Path graph 0-1-2-...-59: diameter 59 — the shape the propagation
    docstring flags as adversarial."""
    docs = _docs(spark, 60)
    pairs = _pairs(spark, [(i, i + 1) for i in range(59)])
    star = {(r.doc_id, r.component) for r in near_dup_components_star(docs, pairs).collect()}
    prop = {(r.doc_id, r.component) for r in near_dup_components(docs, pairs).collect()}
    assert star == prop
    assert star == {(i, 0) for i in range(60)}


def test_star_handles_disjoint_clusters_and_singletons(spark):
    docs = _docs(spark, 12)
    # two clusters {0..3}, {7,8,9} (ring), singletons 4,5,6,10,11
    pairs = _pairs(spark, [(0, 1), (1, 2), (2, 3), (7, 8), (8, 9), (9, 7)])
    got = {(r.doc_id, r.component, r.is_canonical) for r in
           near_dup_components_star(docs, pairs).collect()}
    want = {(i, 0, i == 0) for i in range(4)}
    want |= {(i, 7, i == 7) for i in (7, 8, 9)}
    want |= {(i, i, True) for i in (4, 5, 6, 10, 11)}
    assert got == want


def test_star_equals_propagation_on_real_minhash_pairs(spark):
    from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < 500
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.9)
    star = {tuple(r) for r in
            near_dup_components_star(docs.select("doc_id"), pairs).collect()}
    prop = {tuple(r) for r in
            near_dup_components(docs.select("doc_id"), pairs).collect()}
    assert star == prop


def test_star_equals_propagation_on_random_graph(spark):
    """Seeded Erdos-Renyi-ish graph: 300 nodes, ~350 random edges — mixed
    component sizes, cycles, and chains in one relation; both algorithms
    must agree exactly (and with a plain-Python union-find oracle)."""
    import random

    rng = random.Random(1234)
    n = 300
    edges = sorted({
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(350)
    })
    docs = _docs(spark, n)
    pairs = _pairs(spark, edges)

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(i, find(i)) for i in range(n)}

    star = {(r.doc_id, r.component) for r in near_dup_components_star(docs, pairs).collect()}
    prop = {(r.doc_id, r.component) for r in near_dup_components(docs, pairs).collect()}
    assert star == want
    assert prop == want


def test_both_variants_accept_checkpointed_pairs(spark):
    """Regression (round 4): a localCheckpointed pair relation — the right
    call when pairs come from an expensive MinHash pass — used to crash
    Spark 4.1's analyzer (UnionBase.rewriteConstraints "key not found")
    because both branches of the bidirecting self-union shared the
    LogicalRDD's attribute ids. The explode-based bidirection must keep
    both algorithms working on checkpointed input, with round counters
    reported via the stats hook."""
    docs = _docs(spark, 40)
    pairs = _pairs(spark, [(i, i + 1) for i in range(39)]).localCheckpoint(eager=True)
    for fn in (near_dup_components, near_dup_components_star):
        stats: dict = {}
        out = {(r.doc_id, r.component) for r in fn(docs, pairs, stats=stats).collect()}
        assert out == {(i, 0) for i in range(40)}
        assert stats["rounds"] >= 1


def test_components_empty_input_terminates(spark):
    """Round-4 review fix: sum() over zero rows observes NULL — empty input
    previously looped forever in near_dup_components. Both variants must
    return an empty labeling immediately."""
    docs = _docs(spark, 0)
    pairs = _pairs(spark, [])
    for fn in (near_dup_components, near_dup_components_star):
        assert fn(docs, pairs).count() == 0


def test_components_foreign_endpoint_bridges_but_stays_out(spark):
    """Round-4 review fix: a pair endpoint absent from docs (pairs derived
    from a superset) must BRIDGE doc components — and must not leak into
    the output. docs={1,2}, pairs 1-5-2 with 5 foreign: both docs land in
    ONE component; only 2 output rows."""
    docs = _pairs(spark, [(1, 1), (2, 2)]).select(F.col("d1").alias("doc_id")).distinct()
    pairs = _pairs(spark, [(1, 5), (5, 2)])
    for fn in (near_dup_components, near_dup_components_star):
        rows = {(r.doc_id, r.component) for r in fn(docs, pairs).collect()}
        assert rows == {(1, 1), (2, 1)}, (fn.__name__, rows)


def test_components_foreign_min_still_yields_a_canonical_doc(spark):
    """Round-5 review fix: when a FOREIGN endpoint is the component minimum
    (docs={2,3}, pairs 0-2, 0-3 with 0 outside docs), node==component holds
    for NO docs member — a keep-canonical consumer (curate stage 4) would
    silently drop the whole component. is_canonical must be docs-relative:
    exactly one canonical per component, the min AMONG DOCS MEMBERS. The
    component label itself stays the global min (an arbitrary group id)."""
    docs = _pairs(spark, [(2, 2), (3, 3)]).select(F.col("d1").alias("doc_id")).distinct()
    pairs = _pairs(spark, [(0, 2), (0, 3)])
    for fn in (near_dup_components, near_dup_components_star):
        rows = {(r.doc_id, r.component, r.is_canonical) for r in fn(docs, pairs).collect()}
        assert rows == {(2, 0, True), (3, 0, False)}, (fn.__name__, rows)


def test_propagation_evaluates_the_pair_relation_once(spark):
    """The pair relation is the expensive input (at curation scale, the
    whole MinHash pass): near_dup_components must evaluate it once, for the
    checkpointed edges, and seed its round-1 labels from their self-loops
    instead of deriving the nodes from the pairs a second time. A Python
    UDF over d1 counts the pair rows evaluated."""
    evaluated = spark.sparkContext.accumulator(0)

    def touch(x):
        evaluated.add(1)
        return x

    pairs = _pairs(spark, [(0, 1), (1, 2), (5, 6)]).select(
        F.udf(touch, "long")("d1").alias("d1"), "d2"
    )
    got = {(r.doc_id, r.component) for r in near_dup_components(_docs(spark, 8), pairs).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 5), (6, 5), (7, 7)}
    assert evaluated.value == 3
