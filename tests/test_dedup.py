"""Dedup operators: known-answer fixtures + cross-operator consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hnsw_vector_db_spark.operators import dedup
from hnsw_vector_db_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different words appear in this text here"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "short text"),                                    # < 3 tokens: no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_keeps_min_id(docs):
    out = dedup.exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 1, 2, 4]  # 3 collapsed into 0


def test_jaccard_known_value(docs):
    """docs 0/1 share 6 of 8 distinct 3-gram shingles => J = 6/(7+7-6)."""
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, n=3, threshold=0.1).collect()
    }
    assert out[(0, 3)] == 1.0
    assert out[(0, 1)] == pytest.approx(0.75, abs=1e-6)
    assert (0, 2) not in out


def test_minhash_identical_docs_equal_sig(docs):
    sig = dedup.minhash_signature_wide(docs, k=8)
    rows = {r["doc_id"]: [r[f"mh{i}"] for i in range(8)] for r in sig.collect()}
    assert rows[0] == rows[3]
    assert rows[0] != rows[2]
    assert 4 not in rows  # no shingles -> dropped


def test_minhash_lsh_finds_near_dups(docs):
    out = dedup.minhash_lsh_near_dup(docs, k=16, bands=4, threshold=0.5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (0, 3) in pairs  # exact dup always bucket-collides
    assert (0, 1) in pairs  # 0.75 jaccard with 16/4 banding
    assert all(a < b for a, b in pairs)


def test_simhash_identical_docs_equal(docs):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprint(docs).collect()}
    assert fp[0] == fp[3]
    assert 0 <= fp[0] < (1 << dedup.SIMHASH_BITS)


def test_simhash_neardup_includes_exact_dups(docs):
    out = dedup.simhash_near_dup(docs, max_hamming=3)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    assert pairs[(0, 3)] == 0


def test_lsh_agrees_with_exact_on_testdata(spark, sf_dir):
    """LSH(16,4) at J>=0.5 should recover nearly all exact-jaccard pairs —
    the testdata's near-dups are J>=0.9 where band-collision prob is ~1."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_near_dup(docs, k=16, bands=4, threshold=0.5).collect()
    }
    assert lsh.issubset(exact)
    high = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, n=3, threshold=0.9).collect()
    }
    recall = len(lsh & high) / max(len(high), 1)
    assert recall >= 0.9, f"LSH recall {recall} on J>=0.9 pairs"


def test_embedding_neardup_star_assignment(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),   # near-dup of 1
            (3, [0.0, 1.0]),      # unique
            (4, [0.998, 0.02]),   # near-dup of 1 and 2
        ],
        "vec_id long, embedding array<float>",
    )
    out = dedup.embedding_neardup(vecs, threshold=0.99)
    got = {r["vec_id"]: (r["rep_id"], r["is_dup"]) for r in out.collect()}
    assert got == {1: (1, False), 2: (1, True), 3: (3, False), 4: (1, True)}


def test_embedding_neardup_covers_all_rows(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_neardup(emb, threshold=0.35)
    rows = out.collect()
    ids = {r["vec_id"] for r in rows}
    assert len(rows) == emb.count()
    # single-pass star rule: rep <= id, rep is a real vector id, and
    # is_dup exactly marks rep != id (full closure needs the iterative
    # connected-components pass, out of scope for the one-pass operator)
    for r in rows:
        assert r["rep_id"] <= r["vec_id"]
        assert r["rep_id"] in ids
        assert r["is_dup"] == (r["rep_id"] != r["vec_id"])
    assert any(r["is_dup"] for r in rows)  # testdata has near-dups at 0.35


def test_embedding_lsh_pairs_subset_of_brute(spark, sf_dir):
    """Every LSH-candidate pair is exactly verified, so the LSH path is a
    strict subset of the brute similarity_join with identical sims; at a
    generous probe budget it recovers most of them."""
    from hnsw_vector_db_spark.operators.similarity import similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in similarity_join(emb, threshold=0.35).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in dedup.embedding_lsh_pairs(
            emb, threshold=0.35, n_planes=6, probe_hamming=2
        ).collect()
    }
    assert lsh, "no candidate pairs found"
    for pair, sim in lsh.items():
        assert pair in brute and brute[pair] == sim
    recall = len(lsh) / len(brute)
    assert recall >= 0.5, f"LSH pair recall {recall}"


def test_embedding_neardup_methods_agree_on_dups(spark, sf_dir):
    """method='lsh' assigns the same representatives for every pair its
    candidates recover; every lsh-flagged dup is a brute-flagged dup."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute = {r["vec_id"]: r["rep_id"] for r in dedup.embedding_neardup(
        emb, threshold=0.35, method="brute").collect()}
    lsh = {r["vec_id"]: r["rep_id"] for r in dedup.embedding_neardup(
        emb, threshold=0.35, method="lsh", n_planes=6, probe_hamming=2).collect()}
    assert set(lsh) == set(brute)  # covers every row either way
    for vid, rep in lsh.items():
        if rep != vid:  # a dup found by LSH must have rep >= brute's rep
            assert brute[vid] <= rep < vid or brute[vid] == rep


def test_neardup_components_closes_chains(spark):
    # chain 1-2, 2-3 plus isolated 4: one component {1,2,3}, rep=1
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "vec_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    got = {
        r["vec_id"]: (r["rep_id"], r["is_dup"])
        for r in dedup.neardup_components(nodes, pairs).collect()
    }
    assert got == {1: (1, False), 2: (1, True), 3: (1, True), 4: (4, False)}


def test_neardup_components_refines_star(spark, sf_dir):
    """Component closure must be a coarsening of the one-pass star rule:
    same or smaller rep for every node, identical where stars already
    closed."""
    from hnsw_vector_db_spark.operators.similarity import similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity_join(emb, threshold=0.35)
    star = {r["vec_id"]: r["rep_id"] for r in dedup.embedding_neardup(emb, 0.35).collect()}
    comp = {
        r["vec_id"]: r["rep_id"]
        for r in dedup.neardup_components(emb, pairs).collect()
    }
    assert set(star) == set(comp)
    for v, rep in comp.items():
        assert rep <= star[v]


def test_twophase_cc_matches_label_propagation(spark, sf_dir):
    """large-star/small-star output contract == neardup_components on
    the same real near-dup pairs (the cc_scale driver entry shares the
    recursive-CTE oracle on this basis)."""
    from hnsw_vector_db_spark.operators.similarity import similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity_join(emb, threshold=0.35)
    want = sorted(map(tuple, dedup.neardup_components(emb, pairs).collect()))
    got = sorted(
        map(tuple, dedup.connected_components_twophase(emb, pairs).collect())
    )
    assert got == want


def test_twophase_cc_matches_label_propagation_random_graph(spark):
    """Random sparse graph (seeded): both CC forms agree node-for-node."""
    import random

    rng = random.Random(7)
    n = 400
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = sorted(map(tuple, dedup.neardup_components(nodes, pairs).collect()))
    got = sorted(
        map(tuple, dedup.connected_components_twophase(nodes, pairs).collect())
    )
    assert got == want


def test_twophase_cc_deep_chain_converges(spark):
    """A 300-node path (diameter 299 — the versioned-boilerplate shape)
    must converge in O(log d) rounds, far inside max_iters=40, with every
    node labeled by the component min."""
    n = 300
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r["vec_id"]: (r["rep_id"], r["is_dup"])
        for r in dedup.connected_components_twophase(nodes, pairs).collect()
    }
    assert all(got[i] == (0, i != 0) for i in range(n))


def test_twophase_cc_raises_on_unconverged_deep_chain(spark):
    """Star contraction that reaches ``max_iters`` without a fixed point
    must RAISE rather than return partial labels; the front door closes
    the same chain, which has no iteration cap."""
    import pytest as _pytest

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="no fixed point"):
        dedup.connected_components_twophase(nodes, pairs, max_iters=1)
    got = dedup.neardup_components(nodes, pairs).collect()
    assert all(r["rep_id"] == 0 for r in got)


def _cc_graph(spark, case):
    """(nodes, pairs) for one named CC input."""
    import random

    long_ids = "vec_id long", "doc_a long, doc_b long"
    if case == "random":
        rng = random.Random(7)
        edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
        ids, schema = range(400), long_ids
    elif case == "chain":
        edges = [(i, i + 1) for i in range(299)]
        ids, schema = range(300), long_ids
    elif case == "self_loop":
        edges = [(1, 1), (2, 3), (3, 3), (5, 4)]
        ids, schema = range(1, 7), long_ids
    elif case == "null_endpoint":
        edges = [(1, None), (None, 2), (2, 3), (None, None), (6, 4)]
        ids, schema = range(1, 7), long_ids
    elif case == "int_ids":
        edges = [(9, 3), (3, 5), (7, 8), (1, 1)]
        ids, schema = range(1, 11), ("vec_id int", "doc_a int, doc_b int")
    else:  # int_nodes_long_pairs
        edges = [(9, 3), (3, 5), (7, 8), (1, 1)]
        ids, schema = range(1, 11), ("vec_id int", "doc_a long, doc_b long")
    return (
        spark.createDataFrame([(i,) for i in ids], schema[0]),
        spark.createDataFrame(edges, schema[1]),
    )


@pytest.mark.parametrize(
    "case", ["random", "chain", "self_loop", "null_endpoint", "int_ids", "int_nodes_long_pairs"]
)
def test_cc_star_path_equals_driver_path(spark, monkeypatch, case):
    """A zero driver budget sends every graph to star contraction; its
    labels and output schema must equal the driver closure's."""
    nodes, pairs = _cc_graph(spark, case)
    driver = dedup.neardup_components(nodes, pairs)
    monkeypatch.setattr(dedup, "_CC_DRIVER_BYTES", 0)
    star = dedup.neardup_components(nodes, pairs)
    assert star.schema == driver.schema
    assert sorted(map(tuple, star.collect())) == sorted(map(tuple, driver.collect()))
    assert driver.schema["rep_id"].dataType == nodes.schema["vec_id"].dataType


def test_neardup_components_string_ids(spark):
    """Ids that are not integers skip the driver closure (its budget is
    counted in int64 pairs) and are closed by star contraction."""
    nodes = spark.createDataFrame([(c,) for c in "abcde"], "vec_id string")
    pairs = spark.createDataFrame([("c", "b"), ("d", "c")], "doc_a string, doc_b string")
    got = {r["vec_id"]: r["rep_id"] for r in dedup.neardup_components(nodes, pairs).collect()}
    assert got == {"a": "a", "b": "b", "c": "b", "d": "b", "e": "e"}


def test_neardup_components_is_one_job(spark, jobs_in_group):
    """A pair list under the driver budget is closed with one bounded
    collect of the checkpointed pairs: the call runs one job, whatever
    the component depth (min-label propagation ran one per round). The
    frame has one partition, as a checkpointed ``minhash_lsh_near_dup``
    output of this size has after AQE coalescing."""
    import random

    rng = random.Random(5)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(300)]
    edges += [(i, i + 1) for i in range(30)]  # a 30-hop chain
    nodes = spark.createDataFrame([(i,) for i in range(300)], "vec_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").coalesce(1).localCheckpoint()
    out = []
    n = jobs_in_group("cc-driver-jobs", lambda: out.append(dedup.neardup_components(nodes, pairs)))
    assert n == 1, n
    star = dedup.connected_components_twophase(nodes, pairs)
    assert sorted(map(tuple, out[0].collect())) == sorted(map(tuple, star.collect()))


def test_cc_incremental_equals_full_recompute(spark):
    """Folding a batch into a persisted labeling via star edges must be
    label-identical to the full recompute over the union — including a
    batch edge that MERGES two historical components (the rep of the
    higher component must drop to the union min)."""
    import random

    rng = random.Random(11)
    n = 300
    all_edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(220)]
    hist_e = [(u, v) for u, v in all_edges if u % 4 != 0 and v % 4 != 0]
    batch_e = [(u, v) for u, v in all_edges if u % 4 == 0 or v % 4 == 0]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    hist_n = nodes.filter("vec_id % 4 != 0")
    prev = dedup.connected_components_twophase(
        hist_n, spark.createDataFrame(hist_e, "doc_a long, doc_b long")
    )
    got = sorted(
        map(
            tuple,
            dedup.connected_components_incremental(
                prev,
                nodes.filter("vec_id % 4 = 0"),
                spark.createDataFrame(batch_e, "doc_a long, doc_b long"),
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            dedup.neardup_components(
                nodes, spark.createDataFrame(all_edges, "doc_a long, doc_b long")
            ).collect(),
        )
    )
    assert got == want


def test_cc_incremental_merges_components_via_batch_edge(spark):
    """Two historical components {1,2} and {5,6}; batch node 4 bridges
    them — everyone must re-label to the union min 1."""
    hist_n = spark.createDataFrame([(1,), (2,), (5,), (6,)], "vec_id long")
    prev = dedup.connected_components_twophase(
        hist_n, spark.createDataFrame([(1, 2), (5, 6)], "doc_a long, doc_b long")
    )
    out = {
        r["vec_id"]: r["rep_id"]
        for r in dedup.connected_components_incremental(
            prev,
            spark.createDataFrame([(4,)], "vec_id long"),
            spark.createDataFrame([(2, 4), (4, 5)], "doc_a long, doc_b long"),
        ).collect()
    }
    assert out == {1: 1, 2: 1, 4: 1, 5: 1, 6: 1}


def test_cc_incremental_labels_pair_only_ids(spark):
    """Ids appearing ONLY in new_pairs (in neither prev_labels nor
    new_nodes) still influence connectivity and must come back labeled
    (r7 ADVICE) — here 7 bridges {1,2} to {5,6} and is itself output."""
    hist_n = spark.createDataFrame([(1,), (2,), (5,), (6,)], "vec_id long")
    prev = dedup.connected_components_twophase(
        hist_n, spark.createDataFrame([(1, 2), (5, 6)], "doc_a long, doc_b long")
    )
    out = {
        r["vec_id"]: r["rep_id"]
        for r in dedup.connected_components_incremental(
            prev,
            spark.createDataFrame([], "vec_id long"),
            spark.createDataFrame([(2, 7), (7, 5)], "doc_a long, doc_b long"),
        ).collect()
    }
    assert out == {1: 1, 2: 1, 5: 1, 6: 1, 7: 1}


def test_twophase_cc_no_edges_all_singletons(spark):
    nodes = spark.createDataFrame([(3,), (9,)], "vec_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {
        r["vec_id"]: (r["rep_id"], r["is_dup"])
        for r in dedup.connected_components_twophase(nodes, pairs).collect()
    }
    assert got == {3: (3, False), 9: (9, False)}


def test_minhash_native_hash_fast_path(spark, sf_dir):
    """hash_fn='native' (xxhash64): every emitted pair is still exactly
    verified (jaccard >= threshold, a subset of the brute threshold
    pairs), and near-identical docs are still caught — same pipeline
    quality, different buckets, no oracle portability."""
    from pyspark.sql import functions as F

    from hnsw_vector_db_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_near_dup,
    )
    from hnsw_vector_db_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").cache()
    fast = minhash_lsh_near_dup(docs, threshold=0.5, hash_fn="native")
    exact = jaccard_pairs(docs, threshold=0.5)
    f = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in fast.collect()}
    e = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in exact.collect()}
    assert f <= e  # precision 1.0 by exact verify
    # identical-text pairs (jaccard 1.0) always collide in every band
    perfect = {t for t in e if t[2] >= 0.999999}
    assert perfect <= f
    assert len(f) > 0


def test_keep_best_picks_highest_score_with_id_tiebreak(spark):
    from pyspark.sql import Row

    from hnsw_vector_db_spark.operators.dedup import keep_best

    comps = spark.createDataFrame(
        [Row(vec_id=i, rep_id=r) for i, r in [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]]
    )
    scores = spark.createDataFrame(
        [Row(vec_id=1, quality=0.5), Row(vec_id=2, quality=0.9),
         Row(vec_id=3, quality=0.9), Row(vec_id=7, quality=0.1),
         Row(vec_id=8, quality=0.1)]
    )
    out = {r["component"]: r for r in keep_best(comps, scores).collect()}
    assert set(out) == {1, 7}
    assert out[1]["kept_id"] == 2          # 0.9 tie -> lower id wins
    assert out[1]["n_members"] == 3
    assert out[7]["kept_id"] == 7 and out[7]["n_members"] == 2


# ---- edit_distance_pairs (FastSS) ------------------------------------------

def test_edit_distance_pairs_known_values(spark):
    """Substitution, deletion, and insertion neighbors at d=1; the
    distance-2 closure appears only at d=2; unrelated strings never
    pair."""
    from hnsw_vector_db_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "kitte"), (4, "kittten"), (5, "dog")],
        "id long, s string",
    )
    d1 = sorted(map(tuple, edit_distance_pairs(df, "s", max_dist=1).collect()))
    assert d1 == [(1, 2, 1), (1, 3, 1), (1, 4, 1)]
    d2 = sorted(map(tuple, edit_distance_pairs(df, "s", max_dist=2).collect()))
    assert d2 == d1 + [(2, 3, 2), (2, 4, 2), (3, 4, 2)]


def test_edit_distance_pairs_equals_brute(spark):
    """Candidate completeness: the deletion-neighborhood join finds every
    brute-force pair (FastSS guarantee), on strings with dup values,
    empties, and nulls."""
    from hnsw_vector_db_spark.operators.dedup import edit_distance_pairs

    rows = [(i, s) for i, s in enumerate(
        ["abc", "abd", "ab", "abcd", "", "a", "xyz", "xy", "abc", None]
    )]
    df = spark.createDataFrame(rows, "id long, s string")
    for d in (1, 2):
        got = sorted(map(tuple, edit_distance_pairs(df, "s", max_dist=d).collect()))
        a = df.toDF("id_a", "s_a")
        b = df.toDF("id_b", "s_b")
        brute = sorted(
            map(
                tuple,
                a.join(b, F.col("id_a") < F.col("id_b"))
                .withColumn("dist", F.levenshtein("s_a", "s_b"))
                .filter(F.col("dist") <= d)
                .select("id_a", "id_b", "dist")
                .collect(),
            )
        )
        assert got == brute, f"d={d}"


def test_edit_distance_pairs_rejects_bad_depth(spark):
    from hnsw_vector_db_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_pairs(df, "s", max_dist=3)


def test_semantic_dedup_drop_rule(spark):
    """SemDeDup keep-rule on a hand-built fixture: two clusters seeded by
    ids 0 and 1; within a cluster the member FARTHEST from the centroid
    ranks first and survives, while any later-ranked member whose cosine
    sim to a prior survivor-or-not is >= eps is dropped."""
    rows = [
        (0, [1.0, 0.0, 0.0]),       # seed A (centroid)
        (1, [0.0, 1.0, 0.0]),       # seed B (centroid)
        (2, [0.9, 0.1, 0.0]),       # cluster A, near-dup of 0 (cos≈0.99)
        (3, [0.6, 0.0, 0.8]),       # cluster A, far from centroid, not a dup
        (4, [0.0, 0.95, 0.05]),     # cluster B, near-dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(df, n_clusters=2, eps=0.9).collect()
    }
    assert len(out) == 5  # one row per input vector
    # 3 is the cluster-A outlier: ranked first, kept.
    assert out[3]["kept"]
    # 2 sits between seed 0 and it; whichever of {0,2} ranks later is
    # dropped (cos(0,2) ≈ 0.994 >= 0.9); the earlier-ranked one survives.
    a_kept = [i for i in (0, 2) if out[i]["kept"]]
    assert len(a_kept) == 1
    # cluster B: 4 is farther from centroid 1 than 1 itself (dist 0 for
    # the seed), so 4 ranks first and 1 is dropped as its near-dup.
    assert out[4]["kept"] and not out[1]["kept"]
    # every dropped row names a same-cell witness ranked before it
    for r in out.values():
        assert r["cell"] in (0, 1)


def test_semantic_dedup_eps_monotone(spark, sf_dir):
    """Raising eps (stricter near-dup bar) can only grow the survivor
    set; eps > 1 keeps everything."""
    df = load_table(spark, sf_dir, "embeddings")
    kept = {}
    for eps in (0.2, 0.6, 1.01):
        out = dedup.semantic_dedup(df, n_clusters=8, eps=eps)
        kept[eps] = {r["vec_id"] for r in out.filter("kept").collect()}
    assert kept[0.2] <= kept[0.6] <= kept[1.01]
    assert len(kept[1.01]) == df.count()


def test_semantic_dedup_blas_assignment_matches_fold(spark, sf_dir):
    """The BLAS assignment twin must reproduce the fold path exactly on
    the real testdata — cells, rounded centroid distances, and the
    downstream kept flags (a last-ulp argmin flip or rounding-boundary
    drift would surface here)."""
    from hnsw_vector_db_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_blas,
    )

    df = load_table(spark, sf_dir, "embeddings")
    seeds = df.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("seed_vec")
    )
    for metric in ("euclidean", "cosine", "dot_product", "manhattan"):
        fold = sorted(map(tuple, assign_to_centroids(df, seeds, metric=metric).collect()))
        blas = sorted(map(tuple, assign_to_centroids_blas(df, seeds, metric=metric).collect()))
        assert fold == blas, metric
    a = sorted(map(tuple, dedup.semantic_dedup(df, n_clusters=8, eps=0.35).collect()))
    b = sorted(map(tuple, dedup.semantic_dedup(
        df, n_clusters=8, eps=0.35, assign_mode="blas"
    ).collect()))
    assert a == b


def test_semantic_dedup_auto_mode_dispatch(spark):
    """auto assignment picks the measured-crossover side: fold below
    _BLAS_CROSSOVER_CLUSTERS, blas at/above (BASELINE.md 64x table) —
    checked via the dispatch itself, output equality between the two
    kernels is pinned by test_semantic_dedup_blas_assignment_matches_fold."""
    from unittest import mock

    from hnsw_vector_db_spark.operators import dedup as dd

    seen = {}

    def fake_fold(*a, **k):
        seen["mode"] = "fold"
        raise RuntimeError("stop")

    def fake_blas(*a, **k):
        seen["mode"] = "blas"
        raise RuntimeError("stop")

    fake_df = mock.MagicMock()
    # the seed-count fail-fast guard runs before assignment — make it pass
    # (guard path: vectors.filter(...).select(...).select("seed_id").count())
    fake_df.filter.return_value.select.return_value.select.return_value\
        .count.return_value = 10**9
    with mock.patch(
        "hnsw_vector_db_spark.operators.similarity.assign_to_centroids", fake_fold
    ), mock.patch(
        "hnsw_vector_db_spark.operators.similarity.assign_to_centroids_blas", fake_blas
    ):
        for n, want in [
            (8, "fold"),
            (dd._BLAS_CROSSOVER_CLUSTERS - 1, "fold"),
            (dd._BLAS_CROSSOVER_CLUSTERS, "blas"),
            (512, "blas"),
        ]:
            seen.clear()
            try:
                dd.semantic_dedup(fake_df, n_clusters=n)
            except Exception:
                pass
            assert seen.get("mode") == want, (n, seen)


def test_semantic_dedup_sparse_seed_space_raises(spark):
    """Non-zero-based id space -> fewer than n_clusters seed rows must
    fail fast, not silently return fewer clusters (r5 advice)."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(100 + i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="seed ids exist"):
        dedup.semantic_dedup(df, n_clusters=4)


# -- span_dedup (Lee et al. 2021 substring-level exact dedup) --------------


def _brute_span_dedup(texts, k, min_docs=2):
    """Reference implementation: group sliding k-gram spans by TEXT,
    drop every occurrence but the lexicographically-first (doc, pos),
    merge overlapping dropped windows per doc."""
    import re as _re
    from collections import defaultdict

    byspan = defaultdict(list)
    for d, t in sorted(texts.items()):
        toks = [x for x in _re.split(r"\s+", t) if x]
        for p in range(len(toks) - k + 1):
            byspan[" ".join(toks[p : p + k])].append((d, p))
    drops = defaultdict(set)
    for occs in byspan.values():
        if len({d for d, _ in occs}) >= min_docs:
            for d, p in sorted(occs)[1:]:
                drops[d].add(p)
    out = []
    for d, ps in drops.items():
        cur = None
        for p in sorted(ps):
            if cur is None or p > cur[1]:
                if cur is not None:
                    out.append((d, cur[0], cur[1], cur[1] - cur[0], cur[2]))
                cur = [p, p + k, 0]
            cur[1] = max(cur[1], p + k)
            cur[2] += 1
        if cur is not None:
            out.append((d, cur[0], cur[1], cur[1] - cur[0], cur[2]))
    return sorted(out)


def test_span_dedup_planted_boilerplate(spark):
    """Three docs share one boilerplate sentence: the first (min doc_id)
    keeps it, the other two get exactly one merged drop interval at the
    sentence's token offset."""
    boiler = "all rights reserved by the original author"
    texts = {
        1: "alpha beta gamma " + boiler + " delta",
        2: boiler + " unrelated trailing words here",
        3: "x y " + boiler,
        4: "completely unrelated document with no repeats at all",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = sorted(
        tuple(r)
        for r in dedup.span_dedup(df, k=5, min_docs=2).collect()
    )
    assert got == _brute_span_dedup(texts, k=5)
    # doc 1 is canonical (keeps the boilerplate); docs 2 and 3 drop a
    # 7-token interval starting at their respective offsets
    by_doc = {r[0]: r for r in got}
    assert 1 not in by_doc
    assert by_doc[2][1:4] == (0, 7, 7)
    assert by_doc[3][1:4] == (2, 9, 7)


def test_span_dedup_matches_brute_on_testdata(spark, sf_dir):
    """Full equivalence against the span-text brute force on the real
    documents table — proves the xxhash64 key + collision witness is
    invisible (bit-identical to grouping on the span text)."""
    docs = load_table(spark, sf_dir, "documents")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = sorted(tuple(r) for r in dedup.span_dedup(docs, k=5).collect())
    assert got == _brute_span_dedup(texts, k=5)


def test_span_dedup_within_doc_repeat_not_flagged(spark):
    """A span repeated only WITHIN one doc does not meet min_docs=2 —
    cross-document repetition is the Lee et al. criterion (within-doc
    repetition is repetition_stats' job)."""
    df = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "totally different text here now")],
        "doc_id long, text string",
    )
    assert dedup.span_dedup(df, k=5, min_docs=2).count() == 0


def test_span_dedup_long_shared_run_merges_to_one_interval(spark):
    """A shared run of L tokens appears as L-k+1 overlapping k-gram hits
    that must merge into ONE [start, end) interval of length L."""
    shared = " ".join(f"t{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, shared), (2, "pre1 pre2 " + shared + " post")],
        "doc_id long, text string",
    )
    rows = dedup.span_dedup(df, k=5, min_docs=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["start_tok"], r["end_tok"]) == (2, 2, 14)
    assert r["n_tok_dropped"] == 12 and r["n_spans"] == 8


def test_span_dedup_validates_params(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.span_dedup(df, k=0)
    with pytest.raises(ValueError):
        dedup.span_dedup(df, min_docs=1)


def test_exact_groups_maps_every_row_to_min_id(docs):
    got = {r["doc_id"]: r["rep_id"] for r in dedup.exact_groups(docs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4}


def test_exact_groups_consistent_with_exact_dedup(spark, sf_dir):
    """exact_groups' representative set == exact_dedup's survivor set,
    and every member maps to a rep with identical text."""
    d = load_table(spark, sf_dir, "documents")
    reps = {r["doc_id"] for r in dedup.exact_dedup(d).collect()}
    gmap = {r["doc_id"]: r["rep_id"] for r in dedup.exact_groups(d).collect()}
    assert set(gmap.values()) == reps
    assert len(gmap) == d.count()
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for i, rep in gmap.items():
        assert texts[i] == texts[rep]
        assert rep <= i


# ---- incremental dedup vs persisted index ---------------------------------

def test_incremental_dedup_planted_twin(spark, tmp_path):
    from pyspark.sql import Row

    old = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="completely different historical content about spark"),
        Row(doc_id=3, text="another unrelated record in the historical corpus"),
    ])
    new = spark.createDataFrame([
        # exact copy of old doc 1 -> est_jaccard 1.0 against it
        Row(doc_id=10, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=11, text="fresh never before seen material with novel words"),
        Row(doc_id=12, text="tiny"),  # too short to shingle (n=3)
    ])
    path = str(tmp_path / "idx")
    dedup.build_dedup_index(old, path)
    out = {r["doc_id"]: r for r in dedup.incremental_dedup(
        new,
        spark.read.parquet(f"{path}/sigs"),
        spark.read.parquet(f"{path}/bands"),
    ).collect()}
    assert len(out) == 3  # every new doc gets a verdict row
    assert out[10]["best_match"] == 1
    assert out[10]["est_jaccard"] == 1.0 and out[10]["is_dup"]
    assert out[11]["best_match"] == -1 and not out[11]["is_dup"]
    assert out[12]["best_match"] == -1 and out[12]["est_jaccard"] == 0.0


def test_incremental_dedup_never_rehashes_history(spark, tmp_path, sf_dir):
    """The verdict for a batch must be identical whether the index was
    built from the historical TEXT or loaded from the parquet artifact —
    i.e. the artifact is sufficient and history is never re-read."""
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    dedup.build_dedup_index(old, path)
    via_artifact = dedup.incremental_dedup(
        new,
        spark.read.parquet(f"{path}/sigs"),
        spark.read.parquet(f"{path}/bands"),
    )
    from hnsw_vector_db_spark.operators.dedup import (
        _band_keys, minhash_signature_wide,
    )
    wide = minhash_signature_wide(old)
    via_live = dedup.incremental_dedup(new, wide, _band_keys(wide, 16, 4, "doc_id"))
    a = sorted(map(tuple, via_artifact.collect()))
    b = sorted(map(tuple, via_live.collect()))
    assert a == b


def test_incremental_dedup_validates_threshold(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    with pytest.raises(ValueError):
        dedup.incremental_dedup(df, df, df, threshold=0.0)


def test_minhash_hash_fn_survivor_parity_on_planted_dups(spark):
    """portable == native (xxhash64) SURVIVOR-SET equivalence on
    planted exact duplicates (the r11 verdict's production-hash ask):
    hash choice changes concrete band buckets, never the emitted pairs
    for exact dups — identical shingle sets give identical signatures
    under any hash, and both modes verify candidates by exact Jaccard.
    So the keep-first survivor set must be IDENTICAL across modes."""
    import random

    from hnsw_vector_db_spark.operators.dedup import minhash_lsh_near_dup

    rng = random.Random(12)
    vocab = [f"w{i}" for i in range(400)]
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(30)))
        for d in range(30)
    ]
    # plant exact dups of docs 0..9 at ids 100..109
    rows += [(100 + d, rows[d][1]) for d in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    planted = {(d, 100 + d) for d in range(10)}
    survivors = {}
    for mode in ("portable", "native"):
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_near_dup(
                docs, k=8, bands=4, threshold=0.9, hash_fn=mode
            ).collect()
        }
        assert planted <= pairs, f"{mode} missed planted dups"
        dropped = {b for _a, b in pairs}
        survivors[mode] = {r[0] for r in rows} - dropped
    assert survivors["portable"] == survivors["native"]
    # and the planted originals all survive, their clones all drop
    assert {d for d in range(10)} <= survivors["portable"]
    assert not ({100 + d for d in range(10)} & survivors["portable"])


def test_jaccard_pairs_candidates_verify_plan_matches_full(spark, docs):
    """r12: the candidates path verifies per pair via array_intersect
    instead of enumerating the inverted-index pair stream — results must
    equal the full path restricted to the candidate set, reversed/unknown
    candidates dropped, zero-overlap pairs never emitted (even at t=0)."""
    from pyspark.sql import functions as SF

    from hnsw_vector_db_spark.operators.dedup import jaccard_pairs

    d = docs.select("doc_id", "text")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(d, n=3, threshold=0.2).collect()
    }
    assert full
    half = list(full)[: max(len(full) // 2, 1)]
    cand_rows = half + [(b, a) for a, b in half[:2]] + [(1, 99999999)]
    cand = spark.createDataFrame(cand_rows, "doc_a long, doc_b long")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(d, n=3, threshold=0.2, candidates=cand).collect()
    }
    assert got == {p: full[p] for p in half}
    zero = jaccard_pairs(
        d, n=3, threshold=0.0,
        candidates=spark.createDataFrame([(1, 99999999)], "doc_a long, doc_b long"),
    ).collect()
    assert zero == []
