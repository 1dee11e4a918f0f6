"""Operator-library correctness beyond the oracle harness: LSH recall vs
brute force, dedup behavior on planted duplicates, graph-surface ops on a
hand-built DAG, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from logdag_spark.operators import dedup, graphops, similarity
from logdag_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synthetic_media,
)


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs far away today",
        "a completely different sentence about spark and distributed query engines",
        "rain in spain falls mainly on the plain while the band plays on stage",
        "numbers one two three four five six seven eight nine ten eleven twelve",
    ]
    rows = []
    did = 0
    for b in base:
        rows.append((did, b)); did += 1
        rows.append((did, b)); did += 1  # exact dup
        near = b.replace("the", "a", 1) if "the" in b else b + " extra"
        rows.append((did, near)); did += 1  # near dup
    for i in range(30):
        rows.append((did, f"unique filler document number {i} with tokens alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"))
        did += 1
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs_with_dups):
    groups = dedup.exact_dup_groups(docs_with_dups)
    assert groups.count() == 4
    assert all(r["n_dups"] == 2 for r in groups.collect())


def test_minhash_lsh_recall(spark, docs_with_dups):
    """Every exact-dup pair must collide in LSH; verified near-dups found."""
    cand = dedup.minhash_lsh_candidates(docs_with_dups, num_hashes=32, bands=16)
    got = {(r["id1"], r["id2"]) for r in cand.collect()}
    for a in (0, 3, 6, 9):
        assert (a, a + 1) in got, f"exact dup pair ({a},{a+1}) missed by LSH"
    deduped = dedup.minhash_dedup(
        docs_with_dups, num_hashes=32, bands=16, jaccard_th=0.9
    )
    kept = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    for a in (0, 3, 6, 9):
        assert a in kept and (a + 1) not in kept


def test_minhash_dedup_heavy_identical_cluster(spark):
    """A planted cluster of B byte-identical docs must NOT cost B² LSH
    candidate pairs: minhash_dedup collapses exact content first, so the
    banded self-join sees one representative per distinct text (the
    direct candidate path on the raw frame emits the full B*(B-1)/2 —
    asserted here as the contrast)."""
    B = 40
    boiler = "all work and no play makes jack a dull boy " * 4
    rows = [(i, boiler) for i in range(B)]
    rows += [
        (100 + i, f"distinct document {i} alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # raw candidate path: quadratic in the identical cluster
    raw_pairs = dedup.minhash_lsh_candidates(df, num_hashes=16, bands=8).count()
    assert raw_pairs >= B * (B - 1) // 2

    # the dedup chain: collapse exact content, LSH only distinct reps
    keyed = df.select(F.col("doc_id").alias("_id"), F.xxhash64("text").alias("_ch"))
    reps = df.join(
        keyed.groupBy("_ch").agg(F.min("_id").alias("doc_id")).select("doc_id"),
        "doc_id", "left_semi",
    )
    rep_pairs = dedup.minhash_lsh_candidates(reps, num_hashes=16, bands=8).count()
    assert rep_pairs < B  # O(distinct content), not O(B^2)

    out = dedup.minhash_dedup(df, num_hashes=16, bands=8, jaccard_th=0.9)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == {0} | {100 + i for i in range(10)}


def test_minhash_dedup_empty_identical_docs(spark):
    """Byte-identical EMPTY documents collapse through the exact-content
    stage (their shingle Jaccard is 0/0 — the verification join alone
    could never drop them), while distinct non-empty docs survive."""
    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup.minhash_dedup(df).collect()}
    assert kept == {1, 3}


def test_ngram_jaccard_sanity(spark, docs_with_dups):
    pairs = dedup.all_pairs_jaccard(docs_with_dups, th=0.99)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert {(0, 1), (3, 4), (6, 7), (9, 10)} <= got


def test_near_dup_groups_components(spark):
    """Chain a-b-c collapses to one group under min-id label; disjoint
    pair keeps its own canonical."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 long, id2 long"
    )
    got = {
        (r["doc_id"], r["group_id"], r["is_canonical"])
        for r in dedup.near_dup_groups(pairs).collect()
    }
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False),
        (10, 10, True), (11, 10, False),
    }


def test_dedup_keep_canonical_longest_wins(spark):
    """Grouped docs keep exactly the highest-score member (doc_id
    tiebreak); ungrouped docs are kept with NULL group_id."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (10, 5), (11, 9), (99, 1)],
        "doc_id long, n_chars long",
    )
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, group_id long",
    )
    got = {
        (r["doc_id"], r["group_id"], r["keep"])
        for r in dedup.dedup_keep_canonical(docs, groups).collect()
    }
    assert got == {
        (1, 1, False),     # score 10 loses to 30
        (2, 1, True),      # score tie at 30 -> smaller id wins
        (3, 1, False),
        (10, 10, False),   # 5 < 9
        (11, 10, True),
        (99, None, True),  # in no group
    }


def test_simhash_exact_dups_zero_distance(spark, docs_with_dups):
    out = dedup.simhash_near_dups(docs_with_dups, max_hamming=0)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert {(0, 1), (3, 4), (6, 7), (9, 10)} <= got


@pytest.fixture(scope="module")
def clustered_vecs(spark):
    """50 clusters x 3 near-identical members (cosine ~0.995) — the
    high-similarity regime hyperplane LSH is built for."""
    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for c in range(50):
        base = rng.normal(size=32)
        base /= np.linalg.norm(base)
        for m in range(3):
            v = base + 0.05 * rng.normal(size=32)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, cluster long, embedding array<float>"
    ).cache()


def test_lsh_topk_recall_on_planted_clusters(spark, clustered_vecs):
    q = clustered_vecs.where(F.col("vec_id") % 3 == 0)  # one query per cluster
    ann = similarity.lsh_topk(
        clustered_vecs, q, dim=32, k=2, n_planes=8, n_tables=8
    )
    by_q = {}
    for r in ann.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(
        1
        for qid, nbrs in by_q.items()
        if {qid + 1, qid + 2} & nbrs
    )
    assert hits >= 45, f"LSH found cluster siblings for only {hits}/50 queries"


def test_embedding_near_dups_lsh(spark, clustered_vecs):
    out = similarity.embedding_near_dups(
        clustered_vecs, dim=32, th=0.9, n_planes=8, n_tables=8
    )
    pairs = {(r["id1"], r["id2"]) for r in out.collect()}
    planted = {(3 * c, 3 * c + 1) for c in range(50)}
    found = len(planted & pairs)
    assert found >= 45, f"only {found}/50 planted near-dup pairs found"
    # no false positives across clusters at th=0.9
    cross = [
        (a, b) for a, b in pairs if a // 3 != b // 3
    ]
    assert len(cross) <= 2


def test_lsh_topk_runs_on_real_embeddings(spark, sf01_dir):
    e = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10)
    ann = similarity.lsh_topk(e, q, dim=64, k=5, n_planes=6, n_tables=8)
    assert ann.count() >= 0  # weakly-similar corpus: plumbing check only


def test_pca_project_matches_numpy_and_is_deterministic(spark, sf01_dir):
    """pca_project's moments, components and projection must agree with
    a single-node numpy PCA on the same data; components orthonormal,
    eigenvalues descending, sign convention deterministic."""
    import numpy as np

    e = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    out, W, evals = similarity.pca_project(e, k=8)
    # numpy reference
    pdf = e.toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mu = X.mean(axis=0)
    cov = (X - mu).T @ (X - mu) / X.shape[0]
    ev, evec = np.linalg.eigh(cov)
    order = np.argsort(ev)[::-1][:8]
    Wref = evec[:, order]
    flips = np.sign(Wref[np.abs(Wref).argmax(axis=0), np.arange(8)])
    flips[flips == 0] = 1.0
    Wref = Wref * flips
    assert np.allclose(evals, ev[order], rtol=1e-8)
    assert np.allclose(W, Wref, atol=1e-8)
    assert np.allclose(W.T @ W, np.eye(8), atol=1e-9)  # orthonormal
    assert (np.diff(evals) <= 1e-12).all()  # descending variance
    got = {r["vec_id"]: np.asarray(r["proj"]) for r in out.collect()}
    ref = (X - mu) @ Wref
    ids = pdf["vec_id"].to_numpy()
    stacked = np.stack([got[i] for i in ids])
    assert np.allclose(stacked, ref, atol=1e-4)  # float32 projection
    with pytest.raises(ValueError):
        similarity.pca_project(e, k=0)


def test_embedding_moments_quantized_exact(spark):
    """Quantized moments are exact integers regardless of partitioning:
    a known 3-vector corpus reproduces hand-computed sums at any
    partition count."""
    rows = [(1, [0.25, -0.5]), (2, [1.0, 0.0]), (3, [-0.75, 0.5])]
    for parts in (1, 3):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(parts)
        n, s, ss = similarity.embedding_moments(df, quantize=1000)
        assert n == 3
        assert s == [250 + 1000 - 750, -500 + 0 + 500]
        assert ss[0][0] == 250**2 + 1000**2 + 750**2
        assert ss[0][1] == 250 * (-500) + 0 + (-750) * 500


def test_cosine_matches_numpy(spark, sf01_dir):
    e = spark.read.parquet(f"{sf01_dir}/embeddings.parquet").limit(20).toPandas()
    sdf = spark.createDataFrame(e)
    a = sdf.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    b = sdf.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    got = {
        (r["id1"], r["id2"]): r["c"]
        for r in a.crossJoin(b)
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", similarity.cosine(F.col("v1"), F.col("v2")).alias("c"))
        .collect()
    }
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in e.itertuples()}
    for (i, j), c in got.items():
        want = vecs[i] @ vecs[j] / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j]))
        assert abs(c - want) < 1e-9


# ------------------------------------------------------------- graph ops


@pytest.fixture(scope="module")
def small_dag(spark):
    edges = spark.createDataFrame(
        [
            ("u1", 0, 1, True, 0.9),
            ("u1", 1, 2, False, 0.5),
            ("u1", 3, 4, True, 0.2),
            ("u2", 0, 1, True, 0.8),
            ("u2", 2, 3, True, 0.7),
        ],
        "unit string, src_eid long, dst_eid long, directed boolean, weight double",
    )
    evdim = spark.createDataFrame(
        [
            (u, e, f"h{e % 3}:{e}", f"h{e % 3}", str(e))
            for u in ("u1", "u2")
            for e in range(6)
        ],
        "unit string, eid long, identifier string, host string, key string",
    )
    return edges.cache(), evdim.cache()


def test_graph_filters(spark, small_dag):
    edges, evdim = small_dag
    e = graphops.edges_with_nodes(edges, evdim)
    assert graphops.f_directed(e).count() == 4
    assert graphops.f_undirected(e).count() == 1
    assert graphops.f_across_host(e).count() + graphops.f_within_host(e).count() == 5
    assert graphops.f_ate_prune(e, 0.6).count() == 3
    assert graphops.f_edge_search(e, gid="1").count() == 3
    active = graphops.f_no_isolated_nodes(edges, evdim)
    assert active.where(F.col("unit") == "u1").count() == 5  # eid 5 isolated


def test_set_ops(spark, small_dag):
    edges, evdim = small_dag
    e = graphops.edges_with_nodes(edges, evdim)
    e1, e2 = e.where(F.col("unit") == "u1"), e.where(F.col("unit") == "u2")
    e2u = e2.withColumn("unit", F.lit("u1"))  # align unit for comparison
    assert graphops.edges_common(e1, e2u).count() == 1  # 0->1
    assert graphops.edges_lor(e1, e2u).count() == 4
    assert graphops.edges_diff(e1, e2u).count() == 2


def test_dag_stats_and_tfidf(spark, small_dag):
    edges, evdim = small_dag
    stats = {r["unit"]: r for r in graphops.dag_stats(edges, evdim).collect()}
    assert stats["u1"]["n_edges"] == 3 and stats["u1"]["n_directed"] == 2
    tfidf = graphops.edge_tfidf(edges, evdim)
    rows = {(r["unit"], r["pair_key"]): r for r in tfidf.collect()}
    # edge 0->1 appears in both units -> df=2, idf = log(3/3)+1 = 1
    shared = [v for k, v in rows.items() if v["df"] == 2]
    assert shared and all(abs(v["idf"] - 1.0) < 1e-9 for v in shared)
    score = {r["unit"]: r["score"] for r in graphops.anomaly_score(tfidf).collect()}
    assert score["u1"] > 0


def test_connected_components(spark, small_dag):
    edges, evdim = small_dag
    comp = graphops.connected_components(edges, evdim)
    u1 = {r["eid"]: r["component"] for r in comp.where(F.col("unit") == "u1").collect()}
    assert u1[0] == u1[1] == u1[2] == 0
    assert u1[3] == u1[4] == 3
    assert u1[5] == 5
    dist = {
        r["size"]: r["n_components"]
        for r in graphops.netsize_distribution(comp).collect()
    }
    assert dist[3] >= 1 and dist[1] >= 1


def test_dag_similarity_and_trouble(spark, small_dag):
    edges, evdim = small_dag
    sim = graphops.dag_similarity(edges, evdim).collect()
    assert len(sim) == 1 and sim[0]["dot"] == 1
    trouble = spark.createDataFrame(
        [(1, "h0:0"), (1, "h1:1")], "tid int, identifier string"
    )
    m = graphops.match_trouble_edges(edges, evdim, trouble, rule="both")
    assert m.count() == 2  # 0->1 in both units
    # either = exactly-one-endpoint (match_edge.py:40-41 XOR semantics)
    m2 = graphops.match_trouble_edges(edges, evdim, trouble, rule="either")
    assert {(r["unit"], r["src_eid"], r["dst_eid"]) for r in m2.collect()} == {
        ("u1", 1, 2)
    }
    m3 = graphops.match_trouble_edges(edges, evdim, trouble, rule="all")
    assert m3.count() == 3


def test_match_rules_members_and_logsnmp(spark):
    """Merged-event member expansion + the log-snmp rule
    (match_edge.py:30-48)."""
    edges = spark.createDataFrame(
        [("u", 0, 1, True, 0.9), ("u", 1, 2, True, 0.5), ("u", 2, 3, True, 0.4)],
        "unit string, src_eid long, dst_eid long, directed boolean, weight double",
    )
    evdim = spark.createDataFrame(
        [
            ("u", 0, "h0:a|h0:b", "h0", "log"),   # merged event
            ("u", 1, "h1:c", "h1", "log"),
            ("u", 2, "h2:d", "h2", "snmp"),
            ("u", 3, "h3:e", "h3", "snmp"),
        ],
        "unit string, eid long, identifier string, host string, source string",
    )
    trouble = spark.createDataFrame(
        [(7, "h0:b"), (7, "h1:c")], "tid int, identifier string"
    )
    # member expansion: ticket names h0:b, a MEMBER of merged event 0
    got = {
        (r["tid"], r["src_eid"], r["dst_eid"])
        for r in graphops.match_trouble_edges(
            edges, evdim, trouble, rule="both"
        ).collect()
    }
    assert got == {(7, 0, 1)}
    # log-snmp: matched-and-snmp endpoints count as matched
    got_ls = {
        (r["src_eid"], r["dst_eid"])
        for r in graphops.match_trouble_edges(
            edges, evdim, trouble, rule="log-snmp"
        ).collect()
    }
    # 0->1 (both matched), 1->2 (src matched, dst snmp); 2->3 has no match
    assert got_ls == {(0, 1), (1, 2)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown match rule"):
        graphops.match_trouble_edges(edges, evdim, trouble, rule="bogus")


# ------------------------------------------------------------ multimodal


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, 32)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(len(r["feature"]) == 32 for r in rows)
    # deterministic: same payload -> same sha/feature at any partitioning
    again = {r["media_id"]: r["sha256"] for r in extract_features(media.repartition(8)).collect()}
    first = {r["media_id"]: r["sha256"] for r in rows}
    assert first == again
    plan = frame_sample_plan(media, every_ms=1000)
    vid = media.where(F.col("kind") == "video").collect()
    want = sum(max((r["duration_ms"] - 1) // 1000, 0) + 1 for r in vid)
    assert plan.count() == want


def test_to_undirected_and_subgraph_source(spark, small_dag):
    edges, evdim = small_dag
    und = graphops.f_to_undirected(edges)
    rows = {(r["unit"], r["src_eid"], r["dst_eid"]) for r in und.collect()}
    assert ("u1", 0, 1) in rows and not any(r["directed"] for r in und.collect())
    # reciprocal pair collapses to one canonical row
    recip = spark.createDataFrame(
        [("u", 1, 0, True, 0.3), ("u", 0, 1, True, 0.9)],
        "unit string, src_eid long, dst_eid long, directed boolean, weight double",
    )
    u2 = graphops.f_to_undirected(recip).collect()
    assert len(u2) == 1 and u2[0]["src_eid"] == 0 and u2[0]["weight"] == 0.9

    # subgraph_with_source: u1 components {0,1,2}, {3,4}, {5}
    src_dim = evdim.withColumn(
        "source", F.when(F.col("eid") == 4, "snmp").otherwise("log")
    )
    comp = graphops.connected_components(edges, evdim)
    snmp_sub = graphops.f_subgraph_with_source(
        edges.where(F.col("unit") == "u1"), src_dim, comp, "snmp"
    )
    got = {(r["src_eid"], r["dst_eid"]) for r in snmp_sub.collect()}
    assert got == {(3, 4)}  # only the component touching the snmp event
    log_sub = graphops.f_subgraph_with_source(
        edges.where(F.col("unit") == "u1"), src_dim, comp, "log"
    )
    assert log_sub.count() == 3  # both components have log endpoints


# --------------------------------------------------------------- W8 anomaly


def _series_df(spark, vals):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        ("m", "h", "k", t0 + timedelta(minutes=i), float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "measure string, host string, key string, ts timestamp, val double"
    )


def test_anomaly_lof_flags_isolated_spike(spark):
    from logdag_spark.operators.windows import anomaly_kernel

    vals = [1.0, 1.1, 0.9, 1.0, 1.05, 0.95] * 20 + [50.0] + [1.0] * 19
    df = _series_df(spark, vals)
    out = anomaly_kernel(df, "lof").orderBy("ts").collect()
    flags = [r["val"] for r in out]
    assert flags[120] == 1.0  # the spike
    assert sum(flags) <= 4  # dense carpet stays inlier


def test_anomaly_iforest_flags_spike_and_zero_series(spark):
    from logdag_spark.operators.windows import anomaly_kernel

    vals = [1.0, 1.1, 0.9, 1.0] * 30 + [80.0] + [1.0] * 19
    df = _series_df(spark, vals)
    out = anomaly_kernel(df, "iforest").orderBy("ts").collect()
    flags = [r["val"] for r in out]
    assert flags[120] == 1.0
    assert sum(flags) < 0.2 * len(flags)
    # all-zero series: no anomalies by definition (evpost.py:90-94)
    zero = anomaly_kernel(_series_df(spark, [0.0] * 50), "iforest").collect()
    assert all(r["val"] == 0.0 for r in zero)
    # determinism
    out2 = anomaly_kernel(df, "iforest").orderBy("ts").collect()
    assert [r["val"] for r in out2] == flags

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown anomaly method"):
        anomaly_kernel(df, "bogus")


def test_simhash_recall_exact_vs_bruteforce(spark, docs_with_dups):
    """Pigeonhole bucketing must have recall 1.0 vs all-pairs Hamming."""
    from logdag_spark.operators.dedup import hamming64, simhash_signatures

    max_h = 8
    got = {
        (r["id1"], r["id2"])
        for r in dedup.simhash_near_dups(
            docs_with_dups, max_hamming=max_h
        ).collect()
    }
    sig = simhash_signatures(docs_with_dups).cache()
    a = sig.toDF("id1", "s1")
    b = sig.toDF("id2", "s2")
    want = {
        (r["id1"], r["id2"])
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .where(hamming64(F.col("s1"), F.col("s2")) <= max_h)
        .collect()
    }
    assert got == want
    # generalized pigeonhole (r6): n_tables <= max_hamming is now VALID —
    # the per-slice tolerance max_hamming // n_tables covers the budget
    # (n_tables * (tol+1) > max_hamming always); recall must stay exact
    got4 = {
        (r["id1"], r["id2"])
        for r in dedup.simhash_near_dups(
            docs_with_dups, max_hamming=max_h, n_tables=4
        ).collect()
    }
    assert got4 == want
    # tol = 0 degenerate path (n_tables > max_hamming) must agree too
    got9 = {
        (r["id1"], r["id2"])
        for r in dedup.simhash_near_dups(
            docs_with_dups, max_hamming=max_h, n_tables=9
        ).collect()
    }
    assert got9 == want
    with pytest.raises(ValueError, match="n_tables"):
        dedup.simhash_near_dups(docs_with_dups, max_hamming=8, n_tables=0)


def test_ivf_topk_recall_on_planted_clusters(spark, clustered_vecs):
    """IVF (spherical-kmeans cells + n_probe) recovers cluster siblings
    and ≥90% of brute-force top-2 neighbors."""
    base = clustered_vecs.select("vec_id", "embedding")
    q = base.where(F.col("vec_id") % 3 == 0)
    ann = similarity.ivf_topk(
        base, q, dim=32, k=2, n_clusters=16, n_probe=3, n_iter=4
    )
    by_q = {}
    for r in ann.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for qid, nbrs in by_q.items() if {qid + 1, qid + 2} & nbrs)
    assert hits >= 45, f"IVF found cluster siblings for only {hits}/50 queries"

    bf = similarity.brute_force_topk(base, q, k=2)
    want = {}
    for r in bf.collect():
        want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = sum(len(by_q.get(qid, set()) & nbrs) for qid, nbrs in want.items())
    tot = sum(len(nbrs) for nbrs in want.values())
    assert got / tot >= 0.9, f"IVF recall vs brute force {got}/{tot}"


def test_resize_images_contract(spark):
    """Resize plumbing: image rows only, fixed output size, deterministic
    across partitionings."""
    from logdag_spark.operators.multimodal import resize_images

    media = synthetic_media(spark, 32)
    out = resize_images(media, 8, 6).collect()
    n_images = media.where("kind = 'image'").count()
    assert len(out) == n_images > 0
    assert all(len(r["pixels"]) == 48 for r in out)
    again = {r["media_id"]: r["pixels"] for r in resize_images(media.repartition(7), 8, 6).collect()}
    assert all(again[r["media_id"]] == r["pixels"] for r in out)


def test_repartition_by_bytes(spark):
    """Partition count derives from payload bytes, not row count, and no
    rows are lost."""
    from logdag_spark.operators.multimodal import repartition_by_bytes

    media = synthetic_media(spark, 64)
    small = repartition_by_bytes(media, target_mb=64)
    assert small.rdd.getNumPartitions() == 1  # few KB -> one partition
    tiny = repartition_by_bytes(media, target_mb=1)
    assert tiny.count() == 64


# ---------------------------------------------------------------- sampling


def test_hash_sampling_deterministic_and_rated(spark):
    from logdag_spark.operators import sampling

    ids = spark.range(2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in sampling.hash_sample(ids, 0.3).collect()}
    s2 = {
        r["doc_id"]
        for r in sampling.hash_sample(ids.repartition(7), 0.3).collect()
    }
    assert s1 == s2, "sample must not depend on partitioning"
    assert 0.25 < len(s1) / 2000 < 0.35

    split = sampling.hash_split(ids)
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / 2000 > 0.85
    # every row labeled exactly once
    assert sum(counts.values()) == 2000


@pytest.mark.parametrize("rate", [5.0, 1.0 + 1e-9, -0.1, float("nan")])
def test_hash_sample_rejects_a_rate_outside_0_1(spark, rate):
    """Above 1 every row was kept, below 0 none, and NaN failed deep in
    the threshold arithmetic."""
    from logdag_spark.operators import sampling

    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="rate"):
        sampling.hash_sample(ids, rate)


@pytest.mark.parametrize("rate", [5.0, -0.1, float("nan")])
def test_stratified_sample_rejects_a_rate_outside_0_1(spark, rate):
    """A rate above 1 kept every row of its stratum, a negative one none,
    and NaN failed with a cast overflow."""
    from logdag_spark.operators import sampling

    df = spark.createDataFrame([(i, "a") for i in range(10)], "doc_id long, source string")
    rates = spark.createDataFrame([("a", rate)], "key string, rate double")
    with pytest.raises(Exception, match="rate must be in"):
        sampling.stratified_sample(df, rates).count()


@pytest.mark.parametrize("weights", [
    {"train": 0.9, "val": 0.2, "test": 0.1},
    {"train": 1.2, "test": -0.2},
    {"train": float("nan"), "test": 0.1},
    {},
])
def test_hash_split_rejects_bad_weights(spark, weights):
    """Weights summing above 1 silently starved the later splits, and a
    negative weight made a split unreachable."""
    from logdag_spark.operators import sampling

    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="weights"):
        sampling.hash_split(ids, weights)


def test_hash_split_accepts_weights_that_sum_to_1(spark):
    """0.33 + 0.56 + 0.11 is 1.0000000000000002 in float addition: the
    limit is checked on the correctly rounded sum."""
    from logdag_spark.operators import sampling

    ids = spark.range(200).withColumnRenamed("id", "doc_id")
    got = sampling.hash_split(ids, {"a": 0.33, "b": 0.56, "c": 0.11})
    assert {r["split"] for r in got.collect()} == {"a", "b", "c"}


def test_stratified_sample_rates(spark):
    from logdag_spark.operators import sampling

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = spark.createDataFrame(
        [("a", 0.9), ("b", 0.1)], "key string, rate double"
    )
    out = sampling.stratified_sample(df, rates)
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    assert 0.85 < got["a"] / 1000 < 0.95
    assert 0.05 < got["b"] / 1000 < 0.15
    # unknown stratum (no rate row) is dropped, not kept
    df2 = spark.createDataFrame([(1, "zz")], "doc_id long, source string")
    assert sampling.stratified_sample(df2, rates).count() == 0


def test_pack_sequences_bins(spark):
    from logdag_spark.operators.text import pack_sequences

    rows = [
        (0, "s", "a b c"),          # 3 toks, excl 0  -> bin 0 off 0
        (1, "s", "d e"),            # 2 toks, excl 3  -> bin 0 off 3
        (2, "s", "f g h i"),        # 4 toks, excl 5  -> bin 1 off 0
        (3, "t", "x y"),            # other partition restarts
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["pack_bin"], r["bin_offset"])
        for r in pack_sequences(df, capacity=5, num_shards=1).collect()
    }
    assert got == {0: (0, 0), 1: (0, 3), 2: (1, 0), 3: (0, 0)}


def test_pack_sequences_sharded_scales_and_exact(spark):
    """The packing window must parallelize beyond |sources|: with
    num_shards=N one source yields ~N window partitions, each packed in
    exact doc_id order (verified against a per-shard reference
    recomputation), and the assignment is identical at any input
    partitioning."""
    from pyspark.sql import functions as F

    from logdag_spark.operators.sampling import P, SALT_PACK, bucket_multiplier
    from logdag_spark.operators.text import pack_sequences

    rows = [(i, "only_source", "w " * (1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(df, capacity=10, num_shards=8).collect()

    shards = {r["pack_shard"] for r in out}
    assert len(shards) == 8  # parallelism scales with num_shards, not |sources|

    # exactness: per shard, replay the greedy exclusive-prefix packing
    mult = bucket_multiplier(SALT_PACK)
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        assert r["pack_shard"] == ((r["doc_id"] % P) * mult) % P % 8
        by_shard.setdefault(r["pack_shard"], []).append(r)
    for members in by_shard.values():
        excl = 0
        for r in members:  # already doc_id-ordered
            assert (r["pack_bin"], r["bin_offset"]) == (excl // 10, excl % 10)
            excl += r["n_tok"]

    # partitioning-independence: 13-way repartition gives identical bins
    again = {
        (r["doc_id"], r["pack_shard"], r["pack_bin"], r["bin_offset"])
        for r in pack_sequences(
            df.repartition(13, F.col("text")), capacity=10, num_shards=8
        ).collect()
    }
    assert again == {
        (r["doc_id"], r["pack_shard"], r["pack_bin"], r["bin_offset"]) for r in out
    }


def test_sampling_string_ids(spark):
    """String ids must bucket through xxhash64, not a silent cast('long')
    — the cast crashes ANSI mode (or, non-ANSI, NULLs every bucket:
    hash_sample then drops 100% of rows and hash_split labels everything
    with the LAST split name)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from logdag_spark.operators import sampling

    ids = spark.range(2000).select(
        F.format_string("%013d-doc-%08d", "id", "id").alias("doc_id")
    )
    kept = sampling.hash_sample(ids, 0.3)
    n = kept.count()
    assert 0.25 * 2000 < n < 0.35 * 2000  # not 0 (NULL buckets) and rated
    # deterministic at any parallelism
    n2 = sampling.hash_sample(ids.repartition(7), 0.3).count()
    assert n2 == n
    splits = {
        r["split"]: r["n"]
        for r in sampling.hash_split(ids)
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(splits) == {"train", "val", "test"}  # not all-'test'
    assert splits["train"] > splits["val"]
    # float ids can't bucket deterministically: loud, not silent
    fids = spark.range(10).select(F.col("id").cast("double").alias("doc_id"))
    with _pytest.raises(ValueError, match="floating-point"):
        sampling.hash_sample(fids, 0.5)


def test_sampling_stages_decorrelated(spark):
    """A rate-r sample piped into the default split must still produce
    val/test rows — same-salt stages would label every survivor 'train'
    (the bucket order would be identical in both decisions)."""
    from logdag_spark.operators import sampling

    ids = spark.range(4000).withColumnRenamed("id", "doc_id")
    sampled = sampling.hash_sample(ids, 0.2)
    splits = {
        r["split"]
        for r in sampling.hash_split(sampled).select("split").distinct().collect()
    }
    assert splits == {"train", "val", "test"}


def _nx_labels(pairs, nodes=()):
    """node -> min node of its networkx connected component."""
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(pairs)
    return {n: min(c) for c in nx.connected_components(g) for n in c}


def test_star_components_parity_and_long_chain(spark):
    """Star contraction matches networkx on a random pair graph and on a
    multi-unit DAG with isolated nodes, and handles a 60-node chain
    (diameter far beyond a one-hop-per-round budget) in O(log n)
    rounds."""
    import random

    rng = random.Random(7)
    nodes = list(range(200))
    pairs = {(min(a, b), max(a, b))
             for a, b in (rng.sample(nodes, 2) for _ in range(150))}
    pdf = spark.createDataFrame(sorted(pairs), "id1 long, id2 long")
    st = {(r["doc_id"], r["group_id"]) for r in dedup.near_dup_groups(pdf).collect()}
    assert st == set(_nx_labels(pairs).items())

    units = {u: [rng.sample(range(80), 2) for _ in range(60)] for u in ("a", "b", "c")}
    edges = spark.createDataFrame(
        [(u, x, y) for u, es in units.items() for x, y in es],
        "unit string, src_eid long, dst_eid long",
    )
    evdim = spark.createDataFrame(
        [(u, e) for u in units for e in range(80)], "unit string, eid long"
    )
    want = {
        (u, n): c
        for u, es in units.items()
        for n, c in _nx_labels(es, range(80)).items()
    }
    assert len(set(want.values())) < len(want)  # some edges, some isolated
    got = graphops.connected_components(edges, evdim).collect()
    assert len(got) == len(want)
    assert {(r["unit"], r["eid"]): r["component"] for r in got} == want

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id1 long, id2 long"
    )
    got = dedup.near_dup_groups(chain).collect()
    assert all(r["group_id"] == 0 for r in got)
    assert len(got) == 61
    assert sum(1 for r in got if r["is_canonical"]) == 1


def test_connected_components_long_chain(spark):
    """A 60-node path in one unit is one component labelled 0: its
    diameter is three times the default round budget, which only a
    contraction (not a one-hop-per-round propagation) fits."""
    edges = spark.createDataFrame(
        [("u", i, i + 1) for i in range(59)],
        "unit string, src_eid long, dst_eid long",
    )
    evdim = spark.createDataFrame([("u", i) for i in range(60)], "unit string, eid long")
    got = graphops.connected_components(edges, evdim).collect()
    assert len(got) == 60
    assert {r["component"] for r in got} == {0}


def test_star_components_string_ids_and_self_pairs(spark):
    """Ids keep their own type (the generator's doc ids are strings —
    a long cast crashed ANSI mode), and a self-pair surfaces its node
    as a singleton group."""
    pairs = spark.createDataFrame(
        [("0001-h-01", "0001-h-02"), ("0001-h-02", "0001-h-03"),
         ("0009-z-09", "0009-z-09")],
        "id1 string, id2 string",
    )
    got = {
        (r["doc_id"], r["group_id"], r["is_canonical"])
        for r in dedup.near_dup_groups(pairs).collect()
    }
    assert got == {
        ("0001-h-01", "0001-h-01", True),
        ("0001-h-02", "0001-h-01", False),
        ("0001-h-03", "0001-h-01", False),
        ("0009-z-09", "0009-z-09", True),
    }


def test_update_event_labels_coalesce(spark):
    """Mapped gids get the new group; unmapped keep the old (or null when
    the dim never had one)."""
    evdim = spark.createDataFrame(
        [("u", 0, "a", "old_a"), ("u", 1, "b", "old_b")],
        "unit string, eid long, key string, group string",
    )
    newmap = spark.createDataFrame([("a", "NEW_A")], "gid string, group string")
    got = {
        r["key"]: r["group"]
        for r in graphops.update_event_labels(evdim, newmap).collect()
    }
    assert got == {"a": "NEW_A", "b": "old_b"}
    bare = evdim.drop("group")
    got2 = {
        r["key"]: r["group"]
        for r in graphops.update_event_labels(bare, newmap).collect()
    }
    assert got2 == {"a": "NEW_A", "b": None}


def test_stats_by_threshold_counts(spark):
    edges = spark.createDataFrame(
        [("u", 0, 1, True, 0.95), ("u", 1, 2, True, -0.55), ("u", 2, 3, True, 0.05)],
        "unit string, src_eid long, dst_eid long, directed boolean, weight double",
    )
    got = {r["threshold"]: r["n_edges"] for r in graphops.stats_by_threshold(edges).collect()}
    assert got[0.0] == 3 and got[0.1] == 2 and got[0.5] == 2 and got[0.6] == 1 and got[0.9] == 1


def test_oov_stats_counts_and_empty_doc(spark):
    from logdag_spark.operators.text import oov_stats

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),   # 6 tokens, 'sat'/'mat' OOV
            (2, "cat cat cat"),              # fully in-vocab
            (3, "zebra quagga"),             # fully OOV
            (4, ""),                          # empty -> 0/0, frac 0.0
        ],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("on",)], "token string"
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["n_oov"], r["oov_frac"])
        for r in oov_stats(docs, vocab).collect()
    }
    assert got[1] == (6, 2, round(2 / 6, 6))
    assert got[2] == (3, 0, 0.0)
    assert got[3] == (2, 2, 1.0)
    assert got[4] == (0, 0, 0.0)


def test_token_entropy_known_values(spark):
    import math

    from logdag_spark.operators.text import token_entropy

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),        # single token -> 0
            (2, "a b a b"),        # uniform over 2 -> ln 2
            (3, "a a a b"),        # 3/4,1/4
            (4, ""),                # empty -> 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["entropy"])
        for r in token_entropy(docs).collect()
    }
    assert got[1] == (4, 0.0)
    assert got[2] == (4, round(math.log(2), 6))
    h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert got[3] == (4, round(h, 6))
    assert got[4] == (0, 0.0)


def test_source_token_kl_known_values(spark):
    import math

    from logdag_spark.operators.text import source_token_kl

    # s1: 3a+1b of 4; s2: 1a+3b of 4; corpus: 4a+4b of 8 (p_c = 1/2 each)
    docs = spark.createDataFrame(
        [(1, "a a a b", "s1"), (2, "a b b b", "s2")],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (r["n_tok"], r["kl"])
        for r in source_token_kl(docs).collect()
    }
    kl = 0.75 * math.log(0.75 / 0.5) + 0.25 * math.log(0.25 / 0.5)
    assert got["s1"] == (4, round(kl, 6))
    assert got["s2"] == (4, round(kl, 6))  # symmetric construction


def test_shuffle_order_is_a_permutation_and_salt_sensitive(spark):
    from logdag_spark.operators.sampling import shuffle_order

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    out = shuffle_order(df).collect()
    ranks = sorted(r["epoch_rank"] for r in out)
    assert ranks == list(range(1, 101))  # exactly a 1..n permutation
    by_id = {r["doc_id"]: r["epoch_rank"] for r in out}
    assert [by_id[i] for i in range(100)] != list(range(1, 101))  # shuffled
    other = {
        r["doc_id"]: r["epoch_rank"]
        for r in shuffle_order(df, salt=7).collect()
    }
    assert other != by_id  # different salt -> different epoch order
    with pytest.raises(ValueError):
        shuffle_order(df.withColumn("epoch_rank", F.lit(1)))


def test_budget_mix_per_source_budgets_and_order(spark):
    """Per-source budgets follow the weights; within a source the kept
    set is exactly the shuffle-order prefix that fits; unweighted
    sources surface with budget 0 and keep=false."""
    from logdag_spark.operators.sampling import budget_mix

    rows = [(i, "a " * 10, "s0") for i in range(10)]          # 10 tok each
    rows += [(100 + i, "b " * 10, "s1") for i in range(10)]
    rows += [(200 + i, "c " * 10, "s2") for i in range(5)]    # unweighted
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = budget_mix(df, total_budget=80, weights={"s0": 3.0, "s1": 1.0})
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    # budgets: s0 = 80*3/4 = 60 -> 6 docs; s1 = 20 -> 2 docs; s2 = 0
    assert all(r["budget"] == 60 for r in by_src["s0"])
    assert all(r["budget"] == 20 for r in by_src["s1"])
    assert all(r["budget"] == 0 and not r["keep"] for r in by_src["s2"])
    assert sum(r["keep"] for r in by_src["s0"]) == 6
    assert sum(r["keep"] for r in by_src["s1"]) == 2
    # kept = exactly the epoch_rank-smallest docs of each source
    for src, n in (("s0", 6), ("s1", 2)):
        ordered = sorted(by_src[src], key=lambda r: r["epoch_rank"])
        assert [r["keep"] for r in ordered] == [True] * n + [False] * (
            len(ordered) - n
        )
    with pytest.raises(ValueError):
        budget_mix(df, total_budget=-1, weights={"s0": 1.0})
    with pytest.raises(ValueError):
        budget_mix(df, total_budget=10, weights={})
    # partition-count invariance: the verdict is a pure function of the
    # data (the determinism contract of the whole sampling surface)
    base = sorted(map(tuple, got))
    for parts in (1, 7):
        again = budget_mix(
            df.repartition(parts), total_budget=80, weights={"s0": 3.0, "s1": 1.0}
        ).collect()
        assert sorted(map(tuple, again)) == base


def test_lsh_to_containment_composition(spark):
    """The PRODUCTION containment path: minhash_lsh_candidates ->
    ngram_containment_pairs (the entry's all-pairs crossJoin is only the
    sf0.01 oracle harness).  Planted quote/subset duplicates — a short
    doc embedded whole in a larger one — must surface as LSH candidates
    (their Jaccard ~0.4 still collides at 16 bands x 2 rows) and verify
    with containment ~1.0 on the quote side while Jaccard stays low."""
    import random

    rng = random.Random(7)
    rows = []
    planted = []
    for p in range(5):
        vocab = [f"w{p}_{i}" for i in range(60)]
        big = " ".join(vocab)
        quote = " ".join(vocab[:25])  # fully contained prefix
        rows.append((p * 10, big))
        rows.append((p * 10 + 1, quote))
        planted.append((p * 10, p * 10 + 1))
    for u in range(5):
        rows.append((1000 + u, " ".join(f"u{u}_{rng.randint(0, 9)}{i}" for i in range(40))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cand = dedup.minhash_lsh_candidates(df, num_hashes=32, bands=16)
    got_cand = {(r["id1"], r["id2"]) for r in cand.collect()}
    hit = [p for p in planted if p in got_cand]
    assert len(hit) >= 4, f"LSH missed quote pairs: {got_cand & set(planted)}"

    ver = dedup.ngram_containment_pairs(df, cand)
    strong = ver.where(F.greatest("c1", "c2") >= 0.9)
    got = {(r["id1"], r["id2"]): (r["c1"], r["c2"]) for r in strong.collect()}
    for p in hit:
        assert p in got, f"containment verify dropped planted pair {p}"
        c1, c2 = got[p]
        assert max(c1, c2) >= 0.95  # the quote side is fully contained
    # no unrelated doc survives verification
    for (a, b) in got:
        assert not (a >= 1000 or b >= 1000)
    # and Jaccard alone would have missed them (the structural point)
    jac = dedup.ngram_jaccard_pairs(df, cand).where(F.col("jaccard") >= 0.9)
    jac_pairs = {(r["id1"], r["id2"]) for r in jac.collect()}
    assert not (jac_pairs & set(planted))


def test_tokenize_edge_semantics(spark):
    """The r6 regexp_extract_all tokenizer must keep the split+filter
    contract exactly: lowercased maximal [a-z0-9_'] runs; empty and
    pure-delimiter text give [], NULL gives NULL, and an interior
    apostrophe/underscore stays inside its token."""
    from logdag_spark.operators.text import tokenize

    rows = [
        ("a", "Hello, World_2! it's X--y"),
        ("b", ""),
        ("c", "!!! ... ---"),
        ("d", None),
        ("e", "  leading and trailing  "),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {r["id"]: r["t"] for r in df.select("id", tokenize("text").alias("t")).collect()}
    assert got["a"] == ["hello", "world_2", "it's", "x", "y"]
    assert got["b"] == []
    assert got["c"] == []
    assert got["d"] is None
    assert got["e"] == ["leading", "and", "trailing"]


def test_simhash_mask_fan_out_is_bounded(spark, docs_with_dups):
    """One 64-bit slice at tolerance 8 would need sum C(64, <=8) ~ 5e9
    driver-side flip masks (and bit-63 masks overflow long): rejected
    before any mask is built.  The alarm turns a runaway enumeration into
    a failure instead of a driver OOM."""
    import signal

    def _timeout(signum, frame):
        raise TimeoutError("flip-mask enumeration did not stop")

    prev = signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(20)
    try:
        with pytest.raises(ValueError, match="flip masks"):
            dedup.simhash_near_dups(docs_with_dups, max_hamming=8, n_tables=1)
        # 2 x sum C(32, <=5) = 485,650 masks: above the cap
        with pytest.raises(ValueError, match="flip masks"):
            dedup.simhash_near_dups(docs_with_dups, max_hamming=10, n_tables=2)
        # a single slice overflows long at any tolerance above 0
        with pytest.raises(ValueError, match="overflow long"):
            dedup.simhash_near_dups(docs_with_dups, max_hamming=1, n_tables=1)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)
