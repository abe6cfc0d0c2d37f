"""Duplicate-cluster safety for the LSH dedup family (round-3 item #1).

A web corpus has duplicate clusters of 10^4..10^6 IDENTICAL docs
(boilerplate); every LSH band puts the whole cluster into one bucket, so
without mitigation the candidate self-join emits m^2/2 pairs per cluster.
Two layers of protection, both tested with a planted 10k-identical cluster:

1. canonicalize=True — exact-dup collapse to one min-id representative
   before candidate generation (candidate pairs are O(distinct texts)).
2. max_bucket — degenerate buckets that survive canonicalization (equal
   but-not-identical templates) are dropped before the self-join.

Plus dedup_components: cluster output as connected components (id ->
min-member-id) instead of raw pairs.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.dedup import (
    _lsh_candidates,
    _minhash_text_udf,
    canonicalize_exact,
    dedup_components,
    exact_canonical_map,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog again and again " * 6
NEAR = BASE + "tail variation"
CLUSTER = 10_000


@pytest.fixture(scope="module")
def planted(spark):
    """10k identical docs + one near-dup pair + unrelated distinct docs."""
    rows = [{"doc_id": f"c{i:05d}", "text": BASE, "lang": "en"} for i in range(CLUSTER)]
    rows.append({"doc_id": "near-1", "text": NEAR, "lang": "en"})
    for i in range(20):
        # genuinely distinct texts (disjoint word sets, not digit variants —
        # digit variants of one template are true near-dups at 3-gram level)
        words = " ".join(f"tok{i}q{j}z{(i * 31 + j) % 97}" for j in range(30))
        rows.append({"doc_id": f"u{i:03d}", "text": words, "lang": "en"})
    return spark.createDataFrame(pd.DataFrame(rows)).repartition(8)


def test_canonicalize_exact_collapses_cluster(spark, planted):
    canon = canonicalize_exact(planted, carry=("lang",))
    rows = canon.collect()
    # 1 rep for the 10k cluster + near-1 + 20 unrelated = 22 distinct texts
    assert len(rows) == 22
    by_text = {r.text: r for r in rows}
    assert by_text[BASE].doc_id == "c00000"  # min id is the representative
    assert by_text[BASE].lang == "en"


def test_candidate_pairs_o_of_cluster_post_canonicalization(spark, planted):
    """THE scale assertion: after canonicalization the LSH candidate set is
    O(distinct texts), not O(cluster^2) — 10k identical docs would otherwise
    emit ~50M candidate pairs."""
    canon = canonicalize_exact(planted)
    sig = canon.select(
        "doc_id", _minhash_text_udf(128, 3)(F.col("text")).alias("_sig")
    )
    n_cand = _lsh_candidates(sig.select("doc_id", "_sig"), "doc_id", 128, 16).count()
    # 22 distinct texts -> at most 22*21/2 = 231 pairs even if every band
    # collided; in practice only the near-dup pair collides
    assert n_cand <= 231
    pairs = minhash_lsh_pairs(
        planted, threshold=0.8, verify="exact", canonicalize=True
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {("c00000", "near-1")}


def test_ngram_canonicalize_with_block(spark, planted):
    pairs = ngram_jaccard_pairs(
        planted, threshold=0.8, block_col="lang", canonicalize=True
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {("c00000", "near-1")}


def test_simhash_bucket_guard_drops_degenerate_bucket(spark, planted):
    """Without canonicalization the 10k cluster floods every simhash block
    bucket; max_bucket excises those buckets while small buckets (the
    near-dup pair via its block match with cluster members is ALSO in the
    oversized bucket, so with the raw guard only non-cluster pairs
    survive)."""
    got = simhash_pairs(planted, max_hamming=6, max_bucket=100)
    rows = got.collect()
    # no pair may touch two cluster members (those buckets were dropped)
    assert not any(r.id_a.startswith("c") and r.id_b.startswith("c") for r in rows)
    # canonicalize + guard together keep the near-dup pair AND stay O(n)
    got2 = simhash_pairs(
        planted, max_hamming=6, canonicalize=True, max_bucket=100
    ).collect()
    assert ("c00000", "near-1") in {(r.id_a, r.id_b) for r in got2}


def test_minhash_bucket_guard_bounds_output(spark, planted):
    """Guard alone (no canonicalization): candidate generation completes
    without emitting the 50M cluster pairs."""
    pairs = minhash_lsh_pairs(planted, threshold=0.8, max_bucket=100)
    assert pairs.count() < 1000


def test_exact_canonical_map_covers_all_rows(spark, planted):
    m = exact_canonical_map(planted)
    assert m.count() == CLUSTER + 21
    cluster_map = m.filter(F.col("doc_id").startswith("c")).select(
        "canonical_id"
    ).distinct().collect()
    assert [r.canonical_id for r in cluster_map] == ["c00000"]


def test_dedup_components_min_label(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"id_a": ["a", "b", "d", "x"], "id_b": ["b", "c", "e", "a"]}
        )
    )
    comp = {r.id: r.component for r in dedup_components(pairs).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "a", "d": "d", "e": "d"}


def test_dedup_components_path_graph_converges(spark):
    """Worst case for min-propagation (diameter = n): a path graph still
    converges within max_iter for moderate n."""
    n = 12
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": [f"p{i:02d}" for i in range(n - 1)],
                "id_b": [f"p{i + 1:02d}" for i in range(n - 1)],
            }
        )
    )
    comp = {r.id: r.component for r in dedup_components(pairs).collect()}
    assert set(comp.values()) == {"p00"} and len(comp) == n


def test_star_components_long_chain_and_random_graph(spark):
    """Large-star/small-star components (round-4): a 300-node chain
    (diameter 299 — min-label would need ~300 rounds) and a random graph,
    both matching a driver-side union-find ground truth."""
    from geomesa_spark.operators.dedup import dedup_components_star

    import numpy as np

    def union_find_truth(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min member id per component
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        out = {}
        for _, members in comp.items():
            m = min(members)
            for n in members:
                out[n] = m
        return out

    # long chain
    chain = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(299)]
    nodes = {x for e in chain for x in e}
    want = union_find_truth(chain, nodes)
    df = spark.createDataFrame(chain, "id_a string, id_b string")
    got = {r.id: r.component for r in dedup_components_star(df).collect()}
    assert got == want
    # random graph with several components + duplicate/reversed edges
    rng = np.random.default_rng(8)
    edges = []
    for _ in range(400):
        a, b = rng.integers(0, 250, size=2)
        if a != b:
            edges.append((f"r{a:03d}", f"r{b:03d}"))
    edges += [(b, a) for a, b in edges[:50]] + edges[:30]
    nodes = {x for e in edges for x in e}
    want = union_find_truth(edges, nodes)
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r.id: r.component for r in dedup_components_star(df).collect()}
    assert got == want


def test_synth_texts_planted_pairs_found(spark):
    """The dedup scale fixture plants (id-7, id) near-dup pairs every 20
    ids; the full MinHash-LSH + exact-verify pipeline finds exactly them."""
    from geomesa_spark.operators.dedup import minhash_lsh_pairs, synth_texts

    d = synth_texts(spark, 2000, partitions=4)
    pairs = minhash_lsh_pairs(
        d, threshold=0.8, verify="exact", canonicalize=True, max_bucket=2000
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {
        (f"d{i - 7:08d}", f"d{i:08d}") for i in range(7, 2000) if i % 20 == 7
    }
    assert got == want, (len(got), len(want))


# --------- regressions folded from the round-advice files (round-5 hygiene)


def test_ngram_bands32_available_for_high_recall(spark):
    """The documented high-recall configuration (bands=32, r=4) must be
    accepted and still find an obvious near-duplicate pair."""
    from geomesa_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog " * 8
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c"],
            "text": [base, base + "!", "completely different content here"],
            "lang": ["en", "en", "en"],
        }
    )
    pairs = ngram_jaccard_pairs(
        spark.createDataFrame(pdf), threshold=0.8, bands=32
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {("a", "b")}


def test_dedup_components_nonconvergence_handling(spark):
    from geomesa_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)],
        "id_a string, id_b string",
    )
    # r9: a this-small graph resolves via the local union-find regardless
    # of max_iter — force the DISTRIBUTED loop (whose convergence handling
    # this test targets) by zeroing the gather cap
    spark.conf.set("spark.geomesa.dedup.gatherMaxBytes", "0")
    try:
        # explicit fallback="raise" fails loudly instead of returning wrong labels
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(chain, max_iter=2, fallback="raise").collect()
        # the default falls back to the diameter-independent star formulation
        labels = dedup_components(chain, max_iter=2)
        got = {(r.id, r.component) for r in labels.collect()}
        assert got == {(f"n{i:02d}", "n00") for i in range(13)}
        # and with enough rounds plain propagation converges to the same answer
        labels = dedup_components(chain, max_iter=30, fallback="raise")
        comps = {r.component for r in labels.collect()}
        assert comps == {"n00"}
    finally:
        spark.conf.unset("spark.geomesa.dedup.gatherMaxBytes")
    # the union-find default gives the identical answer without iteration
    got = {(r.id, r.component) for r in dedup_components(chain, max_iter=2).collect()}
    assert got == {(f"n{i:02d}", "n00") for i in range(13)}
