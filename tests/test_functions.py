"""Behavioral tests for the ops the driver can only rows-check (xxhash64 /
pandas-UDF based): near-dup detection quality and ANN recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openmrs_module_epts_etl_spark.functions.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_similarity,
    simhash,
    simhash_near_pairs,
    word_shingles,
)
from openmrs_module_epts_etl_spark.functions.vector import (
    brute_force_cosine_topk,
    lsh_bucketed_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "as morning light spills across the wooden floor and the kettle "
    "whistles softly in the kitchen where fresh bread cools on a rack "
    "beside the open window letting in the scent of rain soaked earth"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup
        (2, BASE.replace("lazy", "sleepy")),  # near dup
        (3, "completely different text about spark query engines and shuffles"),
        (4, "another unrelated document mentioning iceberg tables and merges"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(docs):
    sh = word_shingles(docs, "doc_id", "text", n=3)
    sigs = minhash_signatures(sh, num_hashes=16)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in found  # exact dup always collides
    assert (0, 2) in found or (1, 2) in found  # near dup caught by some band
    assert (3, 4) not in found  # unrelated docs don't collide
    sims = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_similarity(sigs, pairs, num_hashes=16).collect()
    }
    assert sims[(0, 1)] == 1.0


def test_simhash_near_pairs(docs):
    sh = word_shingles(docs, "doc_id", "text", n=3)
    sigs = simhash(sh)
    near = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(sigs, max_hamming=10).collect()}
    assert near.get((0, 1)) == 0  # identical docs → identical simhash
    assert (0, 2) in near  # near dup within hamming budget
    assert (3, 4) not in near


def test_ann_lsh_recall_vs_brute_force(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(200, 16)).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_cosine_topk(emb, queries, k=5)
    # 4 planes on 200 vectors → ~12 per bucket; 1-bit multi-probe widens to ~60
    approx = lsh_bucketed_topk(emb, queries, dim=16, k=5, n_planes=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ann_ivf_recall_vs_brute_force(spark):
    import numpy as np

    from openmrs_module_epts_etl_spark.functions.vector import ivf_flat_topk

    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(200, 16)).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 5)
    # sampled codebook: every 25th vector → 8 cells of ~25; nprobe=3 probes
    # ~3/8 of the corpus per query
    cents = [(i, [float(x) for x in vecs[i]]) for i in range(0, 200, 25)]
    exact = brute_force_cosine_topk(emb, queries, k=5)
    approx = ivf_flat_topk(emb, queries, cents, k=5, nprobe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    # every approx hit must carry the exact cosine (IVF-Flat ranks exactly
    # inside probed cells — only coverage is approximate)
    exact_sims = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert r.cosine_sim == exact_sims[(r.query_id, r.neighbor_id)]


def test_brute_force_topk_shape(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = brute_force_cosine_topk(emb, emb.filter("vec_id = 0"), k=3).collect()
    assert len(out) == 3
    assert all(r.query_id == 0 and r.neighbor_id != 0 for r in out)
    assert [r.rank for r in out] == [1, 2, 3]


def test_lsh_near_dup_recall_vs_exact(spark):
    import numpy as np
    from openmrs_module_epts_etl_spark.functions.vector import lsh_near_dup_pairs

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(20):                      # 20 clusters of 3 near-dups
        base = rng.normal(size=16)
        for _ in range(3):
            v = base + rng.normal(scale=0.05, size=16)  # cos >= ~0.99
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(40):                      # background noise
        rows.append((vid, [float(x) for x in rng.normal(size=16)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # exact baseline via brute force
    import itertools
    pdf = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    exact = set()
    for a, b in itertools.combinations(sorted(pdf), 2):
        cos = float(pdf[a] @ pdf[b] / (np.linalg.norm(pdf[a]) * np.linalg.norm(pdf[b])))
        if round(cos, 4) >= 0.95:
            exact.add((a, b))
    assert len(exact) >= 20  # the clusters produced real near-dup pairs

    got = {
        (r.id_a, r.id_b)
        for r in lsh_near_dup_pairs(
            emb, dim=16, threshold=0.95, bands=8, planes_per_band=6
        ).collect()
    }
    assert got <= exact                       # verification is exact
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"LSH near-dup recall {recall:.2f} < 0.9"


def test_contaminated_ids_broadcast_semi(spark):
    from openmrs_module_epts_etl_spark.functions.dedup import contaminated_ids

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "I saw the quick brown fox yesterday"),   # shares "the quick brown"
            (2, "completely unrelated sentence here"),
            (3, "fox jumps over fences all day"),         # shares "fox jumps over"
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in contaminated_ids(corpus, bench, "doc_id", "text", n=3).collect()}
    assert got == {1, 3}
    # the containment join must be broadcast (corpus side never shuffles)
    plan = contaminated_ids(corpus, bench, "doc_id", "text", n=3)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan


def test_redact_pii_patterns(spark):
    from pyspark.sql import functions as F

    from openmrs_module_epts_etl_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            ("mail a.b+c@x-y.co.uk and 192.168.0.1 or +44 20 7946 0958",),
            ("no pii at all",),
            ("ip 999.1.2.3 still redacts as dotted quad",),
        ],
        "t string",
    )
    out = df.select(
        redact_pii(F.col("t")).alias("r"),
        *[v.alias(k) for k, v in pii_counts(F.col("t")).items()],
    ).collect()
    assert out[0].r == "mail <EMAIL> and <IP> or <PHONE>"
    assert (out[0].email, out[0].ipv4, out[0].phone) == (1, 1, 1)
    assert out[1].r == "no pii at all"
    assert out[2].r == "ip <IP> still redacts as dotted quad"


def test_connected_components_two_clusters(spark):
    from openmrs_module_epts_etl_spark.functions.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, exercises multi-round convergence),
    # triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_log_rounds(spark):
    from openmrs_module_epts_etl_spark.functions.dedup import connected_components

    # path graph 0-1-2-...-40: diameter 40, must still converge well inside
    # max_iter thanks to pointer jumping (O(log n) rounds)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    rows = connected_components(pairs, max_iter=10).collect()
    assert len(rows) == 41
    assert {r["comp"] for r in rows} == {0}


def test_connected_components_keeps_one_cached_round(spark, monkeypatch):
    """A long path needs many label-propagation rounds; each persisted round
    frame must be released once the next round's checkpoint has
    materialized, so at most the edge list and one round frame are cached
    at any moment (not one frame per two rounds until the call returns)."""
    from openmrs_module_epts_etl_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    cls = type(pairs)
    persist, unpersist = cls.persist, cls.unpersist
    live: set[int] = set()
    peak, calls = [0], [0]

    def counting_persist(self, *a, **kw):
        live.add(id(self))
        calls[0] += 1
        peak[0] = max(peak[0], len(live))
        return persist(self, *a, **kw)

    def counting_unpersist(self, *a, **kw):
        live.discard(id(self))
        return unpersist(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", counting_persist)
    monkeypatch.setattr(cls, "unpersist", counting_unpersist)
    rows = connected_components(pairs).collect()
    # the edge list plus one frame per two rounds: >= 3 round frames = >= 6 rounds
    assert calls[0] >= 4
    assert peak[0] <= 2
    assert not live
    assert sorted(r["id"] for r in rows) == list(range(301))
    assert {r["comp"] for r in rows} == {0}


def test_connected_components_empty(spark):
    from openmrs_module_epts_etl_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0
