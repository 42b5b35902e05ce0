"""Connected-components dedup clustering (r7): min-label propagation
over a verified near-dup pair graph equals a reference union-find, and
the keep-one-representative contract holds (one canonical per cluster,
cluster_id = min doc_id, singletons preserved)."""

import pytest
from pyspark.sql import Row

from pyrate_spark.operators.dedup import (jaccard_pairs,
                                          minhash_lsh_pairs,
                                          near_dup_clusters)


def _union_find(n_ids, pairs):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize to the min id of each component
    comp = {}
    for i in n_ids:
        comp.setdefault(find(i), []).append(i)
    out = {}
    for members in comp.values():
        root = min(members)
        for m in members:
            out[m] = root
    return out


def test_chain_clique_singleton(spark):
    # chain 0-1-2 (diameter 2: exercises >1 propagation round),
    # clique 10-11-12, singleton 99 (only via docs=)
    pairs = spark.createDataFrame(
        [Row(doc_a=0, doc_b=1), Row(doc_a=1, doc_b=2),
         Row(doc_a=10, doc_b=11), Row(doc_a=10, doc_b=12),
         Row(doc_a=11, doc_b=12)])
    docs = spark.createDataFrame([Row(doc_id=i)
                                  for i in (0, 1, 2, 10, 11, 12, 99)])
    got = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
           for r in near_dup_clusters(pairs, docs=docs).collect()}
    assert got == {0: (0, 3, True), 1: (0, 3, False), 2: (0, 3, False),
                   10: (10, 3, True), 11: (10, 3, False),
                   12: (10, 3, False), 99: (99, 1, True)}


def test_path_graph_needs_iterations(spark):
    # a 9-node path: min label must travel 8 hops; converges but only
    # with enough rounds, and the guard trips when starved
    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(8)])
    got = {r.doc_id: r.cluster_id
           for r in near_dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(9)}
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(pairs, max_iters=1)


def test_matches_union_find_on_lsh_pairs(spark):
    rows = [
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=2, text="the quick brown fox leaps over the lazy cat"),
        Row(doc_id=3, text="completely different words appear here now"),
        Row(doc_id=4, text="totally unrelated content sits in this row"),
        Row(doc_id=5, text="completely different words appear here soon"),
    ]
    docs = spark.createDataFrame(rows)
    pairs = minhash_lsh_pairs(docs, threshold=0.3)
    plist = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    expected = _union_find([r.doc_id for r in rows], plist)
    got = {r.doc_id: r.cluster_id
           for r in near_dup_clusters(pairs, docs=docs).collect()}
    assert got == expected
    # exactly one canonical per cluster, and it IS the cluster_id
    cl = near_dup_clusters(pairs, docs=docs).collect()
    canon = [r for r in cl if r.is_canonical]
    assert sorted(r.doc_id for r in canon) == sorted({r.cluster_id
                                                      for r in cl})


def test_pair_source_agnostic(spark):
    # jaccard pairs feed the same operator
    rows = [Row(doc_id=7, text="alpha beta gamma delta epsilon"),
            Row(doc_id=8, text="alpha beta gamma delta zeta"),
            Row(doc_id=9, text="nothing shared at all whatsoever")]
    docs = spark.createDataFrame(rows)
    pairs = jaccard_pairs(docs, threshold=0.5)
    got = {r.doc_id: r.cluster_id
           for r in near_dup_clusters(pairs, docs=docs).collect()}
    assert got == {7: 7, 8: 7, 9: 9}


def test_fractional_labels_converge(spark):
    # path 2.55 - 2.6 - 2.7 - 2.8: in round 1 the label of 2.7 moves
    # 2.6 -> 2.55 and that of 2.8 moves 2.7 -> 2.6, but every label
    # rounds to 3 in decimal(38,0), so an exact-sum witness over the
    # cast would stop there and leave 2.8 in the cluster of 2.6
    pairs = spark.createDataFrame([(2.55, 2.6), (2.6, 2.7), (2.7, 2.8)],
                                  "doc_a double, doc_b double")
    got = {r.doc_id: r.cluster_id
           for r in near_dup_clusters(pairs).collect()}
    assert got == {2.55: 2.55, 2.6: 2.55, 2.7: 2.55, 2.8: 2.55}
