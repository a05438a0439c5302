"""Connected-components clustering vs a driver-side union-find."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from timebox_spark.operators import dedup
from timebox_spark.plans.tables import load


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == _union_find(edges)


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star contraction equals union-find (and hence
    label propagation) on paths, cliques, stars, multi-component and
    random graphs — the algorithms are drop-in interchangeable."""
    import random

    cases = [
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)],
        [(i, i + 1) for i in range(1, 40)],                 # deep path
        [(1, j) for j in range(2, 15)],                     # star
        [(a, b) for a in range(1, 8) for b in range(a + 1, 8)],  # clique
        [(5, 5), (5, 6)],                                   # self-loop
    ]
    rng = random.Random(42)
    for _ in range(3):
        n = 60
        cases.append(
            [
                (rng.randrange(1, n), rng.randrange(1, n))
                for _ in range(70)
            ]
        )
    for edges in cases:
        uf = _union_find([e for e in edges if e[0] != e[1]])
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["component"]
            for r in dedup.connected_components_star(pairs).collect()
        }
        assert got == uf, (edges[:5], len(edges))


def test_connected_components_star_sublinear_rounds_on_deep_path(spark):
    """The point of contraction: a 64-link path (diameter 64) must
    converge in far fewer rounds than label propagation's O(diameter)
    — O(log² n) per Kiveris et al. 2014."""
    edges = [(i, i + 1) for i in range(1, 65)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(
            pairs, stats=stats, max_iterations=20
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 66)}
    assert stats["rounds"] <= 10, stats


def test_connected_components_deep_path_raises_and_auto_escalates(spark):
    """A 30-link path exceeds label propagation's default 20-round
    cap: the old code silently returned TRUNCATED (wrong) labels;
    now it raises, and dedup_clusters escalates to
    star contraction and returns the correct components."""
    import pytest

    edges = [(i, i + 1) for i in range(1, 31)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs).collect()

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 32)], "doc_id long"
    )
    stats: dict = {}
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dedup_clusters(docs, pairs, stats=stats).collect()
    }
    assert got == {i: 1 for i in range(1, 32)}
    assert stats.get("escalated_to_star") is True
    # advisor round 12: the aborted label run's stats are re-namespaced
    # under label_* so the star run's keys are never mixed with stale
    # entries; the raise is the dedicated ConvergenceError type
    assert "label_rounds" in stats and "label_changed_per_round" in stats
    assert stats["rounds"] <= 10  # the star run's own round count
    assert "edges_per_round" in stats
    with pytest.raises(dedup.ConvergenceError):
        dedup.connected_components(pairs).collect()


def test_dedup_clusters_escalates_past_the_round_cap(spark, monkeypatch):
    """With label propagation capped at 3 rounds, a 6-node chain
    (diameter 5) cannot converge: dedup_clusters escalates to star
    contraction and returns the star labels instead of raising."""
    import functools

    monkeypatch.setattr(
        dedup,
        "connected_components",
        functools.partial(dedup.connected_components, max_iterations=3),
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    star = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert got == {**star, 7: 7} == {**{i: 1 for i in range(1, 7)}, 7: 7}


def test_dedup_clusters_auto_does_not_mask_unrelated_runtimeerror(
    spark, monkeypatch
):
    """advisor round 12: dedup_clusters escalates ONLY on ConvergenceError — an
    unrelated RuntimeError from label propagation propagates instead of
    silently triggering a star re-run that masks the real failure."""
    import pytest

    def boom(*a, **k):
        raise RuntimeError("executor lost (simulated, NOT convergence)")

    monkeypatch.setattr(dedup, "connected_components", boom)
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="executor lost"):
        dedup.dedup_clusters(docs, pairs).collect()


def test_connected_components_owned_rdds_tracking(spark):
    """Round-12 verdict task 5: owned_rdds records exactly the
    checkpoint RDDs a CC call created, and unpersist_owned removes
    exactly those — the per-owner replacement for the global
    getPersistentRDDs snapshot diff."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    owned: list = []
    comp = dedup.connected_components(pairs, owned_rdds=owned)
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert owned, "no checkpoints recorded"
    mid = set(jsc.getPersistentRDDs().keySet().toArray())
    assert {r.id() for r in owned} <= mid - before
    dedup.unpersist_owned(owned)
    assert owned == []
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), after - before


def test_concurrent_cluster_compactions_do_not_interfere(spark, tmp_path):
    """Round-12 verdict task 5: two cluster-mode compactions running
    concurrently in one session must each produce correct results and
    leave no persistent RDDs — per-owner checkpoint tracking means
    neither sweep can unpersist the other's live state (the old
    global snapshot diff could)."""
    import threading

    from timebox_spark.streaming import ingest

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    texts = {
        "a": "the quick brown fox jumps over the lazy dog and keeps "
             "running through the long meadow toward the river bank",
        "b": "completely different subject matter about integer codecs "
             "and columnar storage layouts with delta encoding schemes",
    }
    results: dict = {}
    barrier = threading.Barrier(2)

    def run(tag: str) -> None:
        barrier.wait()
        base = texts[tag]
        # D ~ E within-batch pair + an independent doc: cluster mode
        # must drop E (larger id) and keep D and the independent doc
        b = spark.createDataFrame(
            [(1, base), (2, base + " qq"), (3, "unrelated " + base[::-1])],
            "doc_id long, text string",
        )
        for _ in range(3):  # repeat so the two loops interleave
            kept = {
                r["doc_id"]
                for r in ingest.compact_corpus(
                    b, near_dup=True, keep="cluster",
                    scratch_path=str(tmp_path / f"scratch_{tag}"),
                ).collect()
            }
            results.setdefault(tag, []).append(kept)

    threads = [threading.Thread(target=run, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results["a"] == [{1, 3}] * 3, results.get("a")
    assert results["b"] == [{1, 3}] * 3, results.get("b")
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), after - before


def test_dedup_clusters_star_algorithm(spark, monkeypatch):
    """The star contraction dedup_clusters escalates to gives the same
    assignment as the converged label propagation on real minhash
    pairs, so escalating never changes a label."""
    docs = load(spark, SF_SMOKE, "documents")
    pairs = dedup.minhash_dedup(docs, threshold=0.35)
    lp = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }

    def capped(*a, **k):
        raise dedup.ConvergenceError("round cap (simulated)")

    monkeypatch.setattr(dedup, "connected_components", capped)
    stats: dict = {}
    star = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup.dedup_clusters(docs, pairs, stats=stats).collect()
    }
    assert stats["escalated_to_star"] is True
    assert lp == star


def test_dedup_clusters_on_documents(spark):
    docs = load(spark, SF_SMOKE, "documents")
    pairs = dedup.minhash_dedup(docs, threshold=0.35)
    clusters = dedup.dedup_clusters(docs, pairs)
    # every doc appears exactly once; canonical <= member id
    assert clusters.count() == docs.count()
    bad = clusters.filter(F.col("canonical_id") > F.col("doc_id")).count()
    assert bad == 0
    # cluster assignment agrees with union-find on the same pairs
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    uf = _union_find(edge_list)
    got = {r["doc_id"]: r["canonical_id"] for r in clusters.collect()}
    for node, root in uf.items():
        assert got[node] == root


def test_minhash_prefilter_preserves_results(spark):
    """The debiased signature-estimate prefilter (bench's diagnostic)
    screens banded candidates 0.25 below the threshold without losing
    a verified pair."""
    docs = load(spark, SF_SMOKE, "documents")
    plain = dedup.minhash_dedup(docs, threshold=0.35)
    bands, _rows = dedup.lsh_tuning(0.35, 32, bias="precision")
    combined = dedup.minhash_signatures(docs, emit_sets=True)
    cands = dedup.minhash_lsh_candidates(combined, bands=bands)
    kept = dedup.minhash_estimate_filter(
        cands, combined, min_estimate=0.35 - 0.25, bands=bands
    )
    screened = dedup.jaccard_verify(kept, combined, threshold=0.35)
    a = sorted((r["id_a"], r["id_b"]) for r in plain.collect())
    b = sorted((r["id_a"], r["id_b"]) for r in screened.collect())
    assert a == b and len(a) > 0


def test_ngram_contamination_semantics(spark):
    """Docs sharing a 12-gram with the probe set are flagged with the
    exact distinct-overlap count; clean docs are not."""
    from timebox_spark.operators.dedup import ngram_contamination

    probes = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "i saw the quick brown fox yesterday morning"),  # overlap
            (11, "completely unrelated text about spark plans"),  # clean
            (12, "the quick brown fox jumps over the lazy dog"),  # verbatim
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["n_overlap"]
        for r in ngram_contamination(docs, probes, shingle_n=12).collect()
    }
    assert 11 not in rows
    assert rows[10] >= 1
    # the verbatim copy shares every probe shingle
    norm = "the quick brown fox jumps over the lazy dog"
    assert rows[12] == len(set(norm[i : i + 12] for i in range(len(norm) - 11)))


# ---------------------------------------------------------------- embedding near-dups

def _planted_embeddings(spark):
    """Six vectors in two label blocks with known geometry: (1,2) are
    near-identical, (3,4) are orthogonal, (10,11) near-identical in the
    other block; 5 sits alone-ish in block 0."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),       # cos(1,2) ~ 0.99995
        (3, [0.0, 1.0, 0.0, 0.0], 0),          # orthogonal to 1,2
        (4, [0.0, 0.0, 1.0, 0.0], 0),
        (5, [0.5, 0.5, 0.5, 0.5], 0),
        (10, [0.0, 0.0, 0.0, 1.0], 1),
        (11, [0.0, 0.0, 0.01, 0.999], 1),      # cos(10,11) ~ 0.99995
        (12, [1.0, 1.0, 0.0, 0.0], 1),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_embedding_near_dups_planted_pairs(spark):
    emb = _planted_embeddings(spark)
    got = dedup.embedding_near_dups(emb, threshold=0.95)
    pairs = sorted((r["id_a"], r["id_b"]) for r in got.collect())
    assert pairs == [(1, 2), (10, 11)]
    # cosine values are real cosines
    for r in got.collect():
        assert 0.95 <= r["cosine"] <= 1.0


def test_embedding_near_dups_blocking_prevents_cross_label(spark):
    # 1 and 10's twin would match without blocking; labels differ so no pair
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.001], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    assert dedup.embedding_near_dups(emb, threshold=0.9).count() == 0


def test_embedding_near_dups_keep_top_n(spark):
    emb = _planted_embeddings(spark)
    got = dedup.embedding_near_dups(emb, threshold=0.95, keep_top_n=2)
    by_pair = {(r["id_a"], r["id_b"]): r["cosine"] for r in got.collect()}
    # threshold pairs still present
    assert (1, 2) in by_pair and (10, 11) in by_pair
    # block 0 contributes exactly 2 pairs (top-2), block 1 exactly 2
    blk0 = [p for p in by_pair if p[0] < 10]
    blk1 = [p for p in by_pair if p[0] >= 10]
    assert len(blk0) == 2 and len(blk1) == 2
    # the second-best block-0 pair is (1,5)/(2,5) family: cos = 0.5-ish,
    # strictly the max sub-threshold cosine in the block
    sub = {p: c for p, c in by_pair.items() if c < 0.95}
    for c in sub.values():
        assert c < 0.95
    # schema unchanged by the top-n path
    assert got.columns == ["id_a", "id_b", "cosine"]


def test_embedding_near_dups_lsh_finds_planted_pairs(spark):
    """The LSH scale path must surface near-identical pairs (collision
    probability ≈ 1 per table at angle ≈ 0) and report only pairs at
    or above the threshold when the top-n tail is off."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),     # cos(1,2) ~ 0.99995
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (10, [0.0, 0.0, 0.0, 1.0]),
        (11, [0.0, 0.0, 0.01, 0.999]),    # cos(10,11) ~ 0.99995
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = dedup.portable_embedding_near_dups_lsh(emb, top_n=0, dim=4)
    pairs = {(r["id_a"], r["id_b"]): r["cosine_q"] for r in got.collect()}
    assert (1, 2) in pairs and (10, 11) in pairs
    # every returned pair really is above threshold (exact cosine on
    # candidates — LSH only gates candidate generation)
    assert all(c >= dedup.NEARDUP_THRESHOLD_Q for c in pairs.values())
    # no self-pairs, ids ordered
    assert all(a < b for a, b in pairs)


def test_embedding_near_dups_lsh_subset_of_exact(spark):
    """On the driver embeddings table, LSH results (a candidate subset)
    must be exactly the all-pairs quantized-cosine pairs that collided
    — same cosines, never an extra pair."""
    from timebox_spark.operators import similarity

    emb = load(spark, SF_SMOKE, "embeddings")
    threshold_q = 300_000_000
    vq = emb.select("vec_id", similarity.quantized_vec(F.col("embedding")).alias("vq"))
    a, b = vq.alias("a"), vq.alias("b")
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            similarity._cosine_q_portable(F.col("a.vq"), F.col("b.vq")).alias("cosine_q"),
        )
        .filter(F.col("cosine_q") >= threshold_q)
    )
    lsh = dedup.portable_embedding_near_dups_lsh(emb, threshold_q=threshold_q, top_n=0)
    e = {(r["id_a"], r["id_b"]): r["cosine_q"] for r in exact.collect()}
    l = {(r["id_a"], r["id_b"]): r["cosine_q"] for r in lsh.collect()}
    assert l and set(l) <= set(e)
    for k, v in l.items():
        assert e[k] == v


def test_portable_embedding_near_dups_lsh(spark):
    """The oracle-portable LSH near-dup variant (q27 'lsh' member):
    planted near-identical pairs surface at threshold, every reported
    cosine_q equals the exact quantized cosine, and the top-n tail is
    the n closest candidate pairs."""
    import math

    rows = [
        (1, [1.0, 0.0] + [0.0] * 62),
        (2, [0.999, 0.01] + [0.0] * 62),
        (3, [0.0, 1.0] + [0.0] * 62),
        (10, [0.0] * 62 + [0.0, 1.0]),
        (11, [0.0] * 62 + [0.01, 0.999]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine_q"]
        for r in dedup.portable_embedding_near_dups_lsh(emb).collect()
    }
    assert (1, 2) in got and (10, 11) in got
    assert got[(1, 2)] >= dedup.NEARDUP_THRESHOLD_Q
    assert got[(10, 11)] >= dedup.NEARDUP_THRESHOLD_Q

    def q(v):
        return [math.floor(x * 1e6 + 0.5) for x in v]

    def cos_q(a, b):
        va, vb = q(a), q(b)
        dot = sum(x * y for x, y in zip(va, vb))
        na = sum(x * x for x in va)
        nb = sum(x * x for x in vb)
        return math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e9 + 0.5)

    vecs = dict((i, v) for i, v in rows)
    for (a, b), c in got.items():
        assert c == cos_q(vecs[a], vecs[b])
    assert all(a < b for a, b in got)


# ---------------------------------------------------------------- winnowing

def test_winnow_guarantee_shared_substring(spark):
    """The winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a substring of length >= k + window - 1 must share at
    least one fingerprint."""
    shared = "x" * 0 + "the quick brown fox jumps over the lazy dog tonight"
    assert len(shared) >= dedup.WINNOW_K + dedup.WINNOW_WINDOW - 1
    rows = [
        (1, "AAA unrelated prefix text here. " + shared + " AAA suffix."),
        (2, "BBB totally different start! " + shared + " and another end."),
        (3, "no overlap with anything else at all, completely distinct text."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring produced no common fp"
    assert not (by_doc[1] & by_doc[3]) or len(by_doc[1] & by_doc[3]) < len(
        by_doc[1] & by_doc[2]
    )


def test_winnow_overlap_pairs_finds_planted_overlap(spark):
    shared = "a long common passage that both documents quote verbatim, " \
             "long enough to span many winnowing windows in a row"
    rows = [(i, f"doc {i} filler text with nothing in common {i}") for i in range(4, 10)]
    rows += [(1, "first doc: " + shared), (2, "second doc: " + shared)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in dedup.winnow_overlap_pairs(df).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= dedup.WINNOW_MIN_SHARED
    # no pair among the unrelated docs
    assert all(p == (1, 2) for p in pairs)


def test_winnow_short_text_no_crash(spark):
    df = spark.createDataFrame(
        [(1, "tiny"), (2, ""), (3, "x" * (dedup.WINNOW_K - 1))],
        "doc_id long, text string",
    )
    assert dedup.winnow_fingerprints(df).count() == 0
    assert dedup.winnow_overlap_pairs(df).count() == 0


def test_cluster_representatives_keep_best(spark):
    """Per cluster the representative is the highest-score member
    (smallest id on ties); singletons represent themselves."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, 10),
            (2, 30),   # cluster {1,2,3}: rep = 2 (longest)
            (3, 30),   # ties with 2 -> smaller id wins
            (7, 5),    # cluster {7,8}
            (8, 9),
            (9, 99),   # singleton
        ],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    clusters = dedup.dedup_clusters(docs, pairs)
    reps = {
        r["canonical_id"]: (r["rep_id"], r["rep_score"])
        for r in dedup.cluster_representatives(
            docs, clusters, score_col="n_chars"
        ).collect()
    }
    assert reps[1] == (2, 30)
    assert reps[7] == (8, 9)
    assert reps[9] == (9, 99)


def test_cross_minhash_contamination_planted_probes(spark):
    """Cross-corpus near-dup decontamination: a probe that is a light
    paraphrase of a corpus doc is flagged with its exact Jaccard, an
    unrelated probe is not, and corpus docs never pair with each
    other."""
    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain tonight")
    other = ("completely different text about gardens and stone "
             "walls with many unrelated words in a long sentence")
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " ok"), (3, other)],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, base + " yes"), (101, "entirely new benchmark item "
                                     "about astronomy and telescopes")],
        "doc_id long, text string",
    )
    got = dedup.cross_minhash_contamination(
        corpus, probes, threshold=0.5
    ).collect()
    pairs = {(r["doc_id"], r["probe_id"]) for r in got}
    # the paraphrase probe hits BOTH near-identical corpus docs;
    # the unrelated probe hits nothing; no corpus self-pairs
    assert pairs == {(1, 100), (2, 100)}
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in got)


def test_duplicate_weights_planted_clusters(spark):
    """Soft dedup: every member of a size-s cluster gets exactly
    quant div s ticks, singletons keep full weight, and the corpus
    total is the exact integer effective size."""
    import pytest

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 8, 9)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    clusters = dedup.dedup_clusters(docs, pairs)
    got = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"], r["weight_q"])
        for r in dedup.duplicate_weights(clusters).collect()
    }
    assert got[1] == (1, 3, 333_333_333)
    assert got[2] == (1, 3, 333_333_333)
    assert got[3] == (1, 3, 333_333_333)
    assert got[7] == (7, 2, 500_000_000)
    assert got[8] == (7, 2, 500_000_000)
    assert got[9] == (9, 1, 1_000_000_000)
    total = sum(v[2] for v in got.values())
    assert total == 3 * 333_333_333 + 2 * 500_000_000 + 1_000_000_000
    with pytest.raises(ValueError, match="quant"):
        dedup.duplicate_weights(clusters, quant=0)


def test_incremental_exact_dedup(spark):
    """New-batch rows are dropped when their normalized text already
    exists in the corpus or earlier in the batch; everything else
    passes through unchanged."""
    corpus = spark.createDataFrame(
        [(1, "Existing   doc one"), (2, "another doc")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "existing doc ONE"),   # dup of corpus 1 (normalized)
            (11, "brand new doc"),
            (12, "brand NEW   doc"),    # dup of 11 within batch
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in dedup.incremental_exact_dedup(batch, corpus).collect()
    )
    assert got == [11, 13]


def _py_exact_span_dedup(texts: dict[int, str], k: int):
    """Independent pure-Python ExactSubstr reference: dict of window
    text -> occurrences, min-(doc,pos) keeper, token-wise coverage."""
    toks = {d: t.split() for d, t in texts.items()}
    occ: dict[tuple, list[tuple[int, int]]] = {}
    for d, tt in toks.items():
        for p in range(max(len(tt) - k + 1, 0)):
            occ.setdefault(tuple(tt[p : p + k]), []).append((d, p))
    marked: dict[int, set[int]] = {d: set() for d in toks}
    for places in occ.values():
        if len(places) < 2:
            continue
        keeper = min(places)
        for d, p in places:
            if (d, p) != keeper:
                marked[d].update(range(p, p + k))
    out = {}
    for d, tt in toks.items():
        kept = [t for i, t in enumerate(tt) if i not in marked[d]]
        # merged span count = islands of marked positions
        ms = sorted(marked[d])
        n_spans = sum(
            1 for j, p in enumerate(ms) if j == 0 or p - ms[j - 1] > 1
        )
        out[d] = (len(tt), len(kept), n_spans, " ".join(kept))
    return out


def test_exact_span_dedup_matches_python_reference(spark):
    """Planted cross-doc span, verbatim dup doc, internal repeat, and
    a short doc — Spark vs the independent dict-based reference."""
    import hashlib

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token span
    texts = {
        0: "a b c " + shared + " x y z",
        1: "p q " + shared + " r",          # later copy -> removed
        2: "u v w unique tokens here only",
        3: "a b c " + shared + " x y z",    # verbatim dup of doc 0
        4: "m " + shared + " n " + shared,  # two copies, one internal
        5: "too short",
    }
    k = 4
    ref = _py_exact_span_dedup(texts, k)
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    from timebox_spark.operators import dedup

    got = {
        r["doc_id"]: r
        for r in dedup.exact_span_dedup(df, k=k).collect()
    }
    assert set(got) == set(ref)
    for d, (nt, nk, ns, kept_text) in ref.items():
        r = got[d]
        assert (r["n_tokens"], r["n_kept"], r["n_spans"]) == (nt, nk, ns), d
        assert r["kept_fp"] == hashlib.md5(kept_text.encode()).hexdigest(), d
    # the keeper doc kept everything; its verbatim dup lost the span
    assert got[0]["n_kept"] == got[0]["n_tokens"]
    assert got[3]["n_kept"] < got[3]["n_tokens"]
    # doc 5 is shorter than k: untouched
    assert got[5]["n_kept"] == 2 and got[5]["n_spans"] == 0


def test_exact_span_dedup_random_corpus_vs_reference(spark):
    """Seeded random small-vocab corpus (dense window collisions) —
    full equality against the Python reference."""
    import hashlib
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(7)]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for d in range(60)
    }
    k = 5
    ref = _py_exact_span_dedup(texts, k)
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    from timebox_spark.operators import dedup

    got = {
        r["doc_id"]: r
        for r in dedup.exact_span_dedup(df, k=k).collect()
    }
    assert set(got) == set(ref)
    for d, (nt, nk, ns, kept_text) in ref.items():
        r = got[d]
        assert (r["n_tokens"], r["n_kept"], r["n_spans"]) == (nt, nk, ns), d
        assert r["kept_fp"] == hashlib.md5(kept_text.encode()).hexdigest(), d


def test_exact_span_dedup_rejects_million_window_docs(spark):
    """Round-8 verdict task 4: a doc with >= 2^20 token windows must
    RAISE (the (id, pos) pack would silently alias into the next
    id's key space) — reject, don't silently miss. A doc just under
    the bound still dedups normally."""
    import pytest

    from timebox_spark.operators import dedup

    k = 5
    n_tokens = (1 << dedup._SPAN_POS_BITS) + k  # 2^20 + k windows... pos hits 2^20
    big = " ".join(["tok"] * n_tokens)
    df = spark.createDataFrame(
        [(0, big), (1, "something else entirely")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="token windows"):
        dedup.exact_span_dedup(df, k=k).collect()


def test_minhash_estimate_filter_debiased_matches_recompute(spark):
    """Round-14 verdict task 3: with ``bands`` passed, the prefilter's
    estimate is the DEBIASED agreement (one fully-agreeing band of
    r = num_hashes/bands consecutive positions excluded) — pinned
    against a Python recompute over the actual signatures, and never
    above the raw estimate (the debias only removes the selection
    bias that conditioned raw agreement upward)."""
    docs = load(spark, SF_SMOKE, "documents")
    num_hashes, bands = 32, 8
    r = num_hashes // bands
    combined = dedup.minhash_signatures(docs, emit_sets=True)
    cands = dedup.minhash_lsh_candidates(combined, bands=bands)
    raw = {
        (x["id_a"], x["id_b"]): x["jaccard_est"]
        for x in dedup.minhash_estimate_filter(
            cands, combined, num_hashes=num_hashes
        ).collect()
    }
    deb = {
        (x["id_a"], x["id_b"]): x["jaccard_est"]
        for x in dedup.minhash_estimate_filter(
            cands, combined, num_hashes=num_hashes, bands=bands
        ).collect()
    }
    assert set(raw) == set(deb) and raw  # min_estimate=0: same pairs
    sigs = {
        x["doc_id"]: [x[f"mh_{i}"] for i in range(num_hashes)]
        for x in combined.select(
            "doc_id", *[f"mh_{i}" for i in range(num_hashes)]
        ).collect()
    }
    for (a, b), est in deb.items():
        eq = [int(x == y) for x, y in zip(sigs[a], sigs[b])]
        agree = sum(eq)
        full_band = any(
            sum(eq[j * r : (j + 1) * r]) == r for j in range(bands)
        )
        expect = (
            (agree - r) / (num_hashes - r) if full_band
            else agree / num_hashes
        )
        assert abs(est - expect) < 1e-9, (a, b, est, expect)
        assert est <= raw[(a, b)] + 1e-9
    # at a real threshold the debiased prefilter admits a SUBSET of
    # the raw one (strictly fewer on this corpus — the verify-stage
    # saving the debias exists for)
    t = 0.35
    raw_adm = {p for p, e in raw.items() if e >= t}
    deb_adm = {p for p, e in deb.items() if e >= t}
    assert deb_adm <= raw_adm and len(deb_adm) < len(raw_adm)
