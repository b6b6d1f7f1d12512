"""Training-data pipeline operators: recall/precision on planted
duplicates, ANN recall vs brute force, per-row image fidelity gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from jpspark.ops import dedup, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """testdata documents + planted near-duplicates: for doc_id < 20, a
    copy with one word changed (high Jaccard), ids 10000+orig."""
    pdf = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    dups = pdf.head(20).copy()
    dups["doc_id"] = dups["doc_id"] + 10000
    dups["text"] = dups["text"].map(
        lambda t: " ".join(["XCHANGEDX"] + t.split()[1:])
    )
    exact = pdf.iloc[20:25].copy()
    exact["doc_id"] = exact["doc_id"] + 20000  # exact copies
    return spark.createDataFrame(pd.concat([pdf, dups, exact], ignore_index=True))


def test_exact_dedup_finds_planted_copies(spark, docs_with_dups):
    out = dedup.exact_dedup(docs_with_dups).filter(F.col("n_copies") > 1).toPandas()
    assert len(out) == 5
    assert sorted(out["keeper_id"]) == [20, 21, 22, 23, 24]
    assert (out["n_copies"] == 2).all()


def test_minhash_lsh_recall_and_estimate(spark, docs_with_dups):
    sigs = dedup.minhash_signatures(docs_with_dups, k=64)
    pairs = dedup.minhash_lsh_pairs(sigs, bands=16, rows_per_band=4, min_jaccard_est=0.5).toPandas()
    planted = {(i, i + 10000) for i in range(20)} | {(i, i + 20000) for i in range(20, 25)}
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, f"recall {recall}: {sorted(planted - found)[:5]}"
    # estimated jaccard high for planted pairs
    hit = pairs[[(a, b) in planted for a, b in zip(pairs["id_a"], pairs["id_b"])]]
    assert (hit["jaccard_est"] >= 0.5).all()


def test_ngram_jaccard_verifies_candidates(spark, docs_with_dups):
    sigs = dedup.minhash_signatures(docs_with_dups, k=64)
    cand = dedup.minhash_lsh_pairs(sigs, bands=16, rows_per_band=4, min_jaccard_est=0.3)
    verified = dedup.ngram_jaccard_pairs(
        docs_with_dups, cand.select("id_a", "id_b"), min_jaccard=0.6
    ).toPandas()
    planted = {(i, i + 10000) for i in range(20)} | {(i, i + 20000) for i in range(20, 25)}
    found = {(a, b) for a, b in zip(verified["id_a"], verified["id_b"])}
    assert len(planted & found) / len(planted) >= 0.9
    # exact copies verify at jaccard 1.0
    exact = verified[verified["id_b"] >= 20020]
    assert (exact["jaccard"] == 1.0).all()


def test_jaccard_pairs_batch_matches_per_pair_reference():
    """The factorized verify kernel (round 7: each distinct doc gram-hashed
    once per batch, distinct pairs intersected once, equal-text pairs
    short-circuited) must be bit-identical to the straightforward per-pair
    form on adversarial batches: repeated docs across pairs, identical
    pairs, equal texts, None/empty/short texts, unicode whitespace."""
    from jpspark.ops.dedup import _gram_hashes_batch, _jaccard_pairs_batch

    def per_pair_reference(ta, tb, shingle_n):
        out = np.empty(len(ta))
        for i, (x, y) in enumerate(zip(ta, tb)):
            hx, _ = _gram_hashes_batch([x if x is not None else ""], shingle_n)
            hy, _ = _gram_hashes_batch([y if y is not None else ""], shingle_n)
            sa, sb = np.unique(hx), np.unique(hy)
            inter = len(np.intersect1d(sa, sb, assume_unique=True))
            union = len(sa) + len(sb) - inter
            out[i] = inter / union if union else 1.0
        return out

    docs = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "totally different words here entirely",
        "",
        None,
        "short one",
        "the quick brown fox jumps over the lazy dog",  # exact dup of [0]
        "a b",  # fewer words than shingle_n
        "tab\tand　ideographic space separated tokens",
    ]
    rng = np.random.default_rng(7)
    # 60 pairs sampling docs with replacement: repeats in both roles,
    # self-pairs (equal text via same index AND via distinct equal copies)
    ia = rng.integers(0, len(docs), size=60)
    ib = rng.integers(0, len(docs), size=60)
    ta = [docs[i] for i in ia] + [docs[0], docs[0]]
    tb = [docs[i] for i in ib] + [docs[0], docs[6]]
    for n in (3, 5):
        got = _jaccard_pairs_batch(ta, tb, n)
        exp = per_pair_reference(ta, tb, n)
        np.testing.assert_array_equal(got, exp)
    # the two appended self/equal pairs verify at exactly 1.0
    assert got[-1] == 1.0 and got[-2] == 1.0


def test_simhash_finds_planted(spark, docs_with_dups):
    hashes = dedup.simhash64(docs_with_dups)
    pairs = dedup.simhash_neardup_pairs(hashes, max_hamming=6).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    exact_planted = {(i, i + 20000) for i in range(20, 25)}
    assert exact_planted <= found  # exact copies at hamming 0
    near_planted = {(i, i + 10000) for i in range(20)}
    assert len(near_planted & found) / len(near_planted) >= 0.7


def _brute_hamming_pairs(ids, hashes, max_hamming):
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            x = (int(hashes[i]) ^ int(hashes[j])) & 0xFFFFFFFFFFFFFFFF
            if bin(x).count("1") <= max_hamming:
                a, b = sorted((ids[i], ids[j]))
                out.add((a, b))
    return out


def test_simhash_adversarial_hamming8_spread_2222(spark):
    """A pair with hamming=8 spread 2-2-2-2 across the legacy 4x16-bit
    blocks (no 16-bit block agrees) MUST still be found — the regression
    the guaranteed-recall block scheme exists to prevent."""
    base = 0x0123456789ABCDEF
    flipped = base ^ (
        (0b11) | (0b11 << 16) | (0b11 << 32) | (0b11 << 48)
    )  # bits 0,1,16,17,32,33,48,49
    pdf = pd.DataFrame({"id": [1, 2, 3], "simhash": np.array(
        [base, flipped, 0x7FFFFFFFFFFFFFFF], dtype=np.int64)})
    pairs = dedup.simhash_neardup_pairs(spark.createDataFrame(pdf), max_hamming=8).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert (1, 2) in found
    assert pairs.set_index(["id_a", "id_b"]).loc[(1, 2), "hamming"] == 8


def test_hamming_block_pairs_exact_vs_bruteforce(spark):
    """The block join's output must equal the exhaustive Hamming-ball pair
    set exactly (guaranteed recall + popcount precision), for both the
    default single-block keys and combination keys."""
    rng = np.random.default_rng(99)
    hashes = rng.integers(-(2**63), 2**63, size=120, dtype=np.int64)
    # plant pairs at assorted distances straddling the radius
    for i, dist in enumerate([0, 3, 6, 8, 9, 11]):
        h = int(hashes[i])
        bits = rng.choice(64, size=dist, replace=False)
        for b in bits:
            h ^= 1 << int(b)
        hashes[60 + i] = np.int64(np.uint64(h & 0xFFFFFFFFFFFFFFFF).astype(np.int64))
    ids = list(range(120))
    expected = _brute_hamming_pairs(ids, hashes, 8)
    sdf = spark.createDataFrame(pd.DataFrame({"id": ids, "simhash": hashes}))
    for kwargs in ({}, {"n_blocks": 11, "key_blocks": 2}):
        pairs = dedup.hamming_block_pairs(sdf, "simhash", 8, **kwargs).toPandas()
        found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
        assert found == expected, f"{kwargs}: missing={expected - found} extra={found - expected}"


def test_hamming_block_pairs_rejects_unguaranteed_config(spark):
    sdf = spark.createDataFrame(pd.DataFrame({"id": [1], "simhash": [0]}))
    with pytest.raises(ValueError):
        dedup.hamming_block_pairs(sdf, "simhash", 8, n_blocks=9, key_blocks=2)


def test_knn_argpartition_boundary_ties_pinned():
    """Exact-tie adversarial: many targets at the SAME coordinates so the
    kth-boundary distances tie; the fast argpartition path must still
    return the lexicographically-smallest (dist, id) neighbors."""
    from jpspark.geom import cell
    from jpspark.ops.knn import TargetIndex, _knn_for_cell

    rng = np.random.default_rng(7)
    ids = rng.permutation(5000)[:60]  # shuffled, non-contiguous ids
    lon = np.full(60, 140.0)
    lat = np.full(60, 35.0)  # all 60 targets coincide -> all dists tie
    idx = TargetIndex(ids, lon, lat, res=5)
    qx, qy = np.array([140.2]), np.array([35.1])
    qc = int(cell.encode(qx, qy, 5)[0])
    t, d = _knn_for_cell(idx, qc, qx, qy, k=3)
    assert list(t[0]) == sorted(ids)[:3]  # pinned tie-break by target id
    assert np.allclose(d[0], d[0][0])  # all distances equal


def test_ann_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 16)
    exact = similarity.cosine_topk_bruteforce(q, emb, k=10).toPandas()
    approx = similarity.cosine_topk_lsh(q, emb, k=10, n_bits=32, band_bits=4).toPandas()
    recalls = []
    for qid in exact["query_id"].unique():
        e = set(exact.loc[exact["query_id"] == qid, "target_id"])
        a = set(approx.loc[approx["query_id"] == qid, "target_id"])
        recalls.append(len(e & a) / len(e))
    assert float(np.mean(recalls)) >= 0.5, f"mean LSH recall {np.mean(recalls)}"
    # top-1 neighbor recall should be higher
    top1_e = exact[exact["rank"] == 1].set_index("query_id")["target_id"]
    top1_hits = 0
    for qid, tid in top1_e.items():
        a = set(approx.loc[approx["query_id"] == qid, "target_id"])
        top1_hits += tid in a
    assert top1_hits / len(top1_e) >= 0.6


def test_embedding_neardup_lsh_planted(spark):
    """LSH-bucketed embedding dedup: exact re-encode duplicates are
    structurally guaranteed (identical sketch shares every band)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    pairs = dedup.embedding_neardup_lsh(emb.unionByName(dups), threshold=0.99).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert {(i, i + 10000) for i in range(12)} <= found
    assert (pairs["cosine"] >= 0.99).all()


def test_phash_neardup_planted(spark):
    from jpspark import fixtures as fx

    pdf = fx.images(120)[["image_id", "phash"]]
    planted = pdf.head(8).assign(image_id=lambda d: d["image_id"] + "_dup")
    sdf = spark.createDataFrame(pd.concat([pdf, planted], ignore_index=True))
    pairs = similarity.phash_neardup_pairs(sdf, max_hamming=4).toPandas()
    dup_pairs = {
        (r["id_a"], r["id_b"]) for _, r in pairs.iterrows()
        if r["id_a"] + "_dup" == r["id_b"]
    }
    assert len(dup_pairs) == 8
    assert all(
        h == 0 for h in pairs[pairs["id_b"].str.endswith("_dup")]["hamming"]
        if True
    )


def test_image_validate_all_rows_pass(spark):
    from jpspark.queries import image_validate_rows

    out = image_validate_rows(spark).toPandas()
    assert len(out) == 254  # 200 fixture + 30 JPEG (r3) + 24 GIF (late r3)
    assert out["pixels_ok"].all()
    assert out["phash_ok"].all()
    lossy = out[out["fmt"].isin(["qlossy", "jpeg"])]
    assert len(lossy[lossy["fmt"] == "jpeg"]) == 30
    assert len(out[out["fmt"] == "gif"]) == 24
    assert (lossy["psnr_db"] >= 40.0).all()
    lossless = out[~out["fmt"].isin(["qlossy", "jpeg"])]
    assert (lossless["psnr_db"] == 99.0).all()  # capped inf (GIF lossless too)


def test_palette_pattern_pinned_without_overflow_warning():
    """The palette hash wraps modulo 2^64 without NumPy's scalar-overflow
    warning, and the palettes stay the ones the image fixtures (and the
    image_validate rows) were built from."""
    import hashlib
    import warnings

    from jpspark import fixtures as fx

    pinned = [
        "a4807a39b28cd35a", "08560b30e93f3be9", "29e6db8531682783",
        "931b9032cc6de67d", "b6d229f26f1d8b26", "214e8015a2a818f0",
    ]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = [
            hashlib.sha256(fx.palette_pattern(i, 16, 16).tobytes()).hexdigest()[:16]
            for i in range(6)
        ]
    assert got == pinned


def test_rolling_hashes_overlap_detection(spark):
    from jpspark.ops.textstats import rolling_hashes

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c d e f g h i j k l",
                    "x y z a b c d e f g h i j q r",  # contains doc 1's 8-gram run
                    "completely different words here nothing shared at all ok",
                ],
            }
        )
    )
    out = df.select("doc_id", rolling_hashes(F.col("text"), window=8).alias("fps")).toPandas()
    f1, f2, f3 = (set(out.loc[out["doc_id"] == i, "fps"].iloc[0]) for i in (1, 2, 3))
    assert f1 & f2  # shared 8-gram window
    assert not (f1 & f3)


def test_ann_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 16)
    exact = similarity.cosine_topk_bruteforce(q, emb, k=10).toPandas()
    approx = similarity.cosine_topk_ivf(q, emb, k=10, n_clusters=16, nprobe=8).toPandas()
    recalls = []
    for qid in exact["query_id"].unique():
        e = set(exact.loc[exact["query_id"] == qid, "target_id"])
        a = set(approx.loc[approx["query_id"] == qid, "target_id"])
        recalls.append(len(e & a) / len(e))
    assert float(np.mean(recalls)) >= 0.6, f"mean IVF recall {np.mean(recalls)}"


def test_knn_as_arrays_matches_exploded(spark):
    from jpspark import fixtures as fx
    from jpspark.ops import knn as knn_ops

    polys = fx.admin_polygons(20)
    imgs = fx.images(150, polys)
    fac = fx.facilities(60, polys)
    sdf = spark.createDataFrame(imgs[["image_id", "lon", "lat"]])
    exploded = knn_ops.knn_join_broadcast(sdf, fac, k=4).toPandas()
    arrays = knn_ops.knn_join_broadcast(sdf, fac, k=4, as_arrays=True).toPandas()
    ex = exploded.sort_values(["query_id", "rank"]).groupby("query_id")
    for qid, grp in ex:
        row = arrays.loc[arrays["query_id"] == qid].iloc[0]
        assert list(row["target_ids"]) == list(grp["target_id"])
        assert np.allclose(list(row["dists"]), list(grp["dist"]))


def test_ann_ivfpq_recall_and_exact_rerank(spark):
    """IVF-PQ: mean recall@10 vs brute force in the approximate regime,
    and the exact-rerank property — reported cosines must EQUAL the
    brute-force cosines for every (query, target) the approx path
    returns (approximation can lose candidates, never mis-score them)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 16)
    exact = similarity.cosine_topk_bruteforce(q, emb, k=10).toPandas()
    approx = similarity.cosine_topk_ivfpq(
        q, emb, k=10, n_clusters=16, nprobe=8, m=8, ks=32, refine=8
    ).toPandas()
    recalls = []
    for qid in exact["query_id"].unique():
        e = set(exact.loc[exact["query_id"] == qid, "target_id"])
        a = set(approx.loc[approx["query_id"] == qid, "target_id"])
        recalls.append(len(e & a) / len(e))
    assert float(np.mean(recalls)) >= 0.65, f"mean IVF-PQ recall {np.mean(recalls)}"
    merged = approx.merge(
        exact, on=["query_id", "target_id"], suffixes=("_a", "_e")
    )
    assert len(merged) > 0
    assert (merged["cosine_a"] == merged["cosine_e"]).all()


def test_pq_codebook_identity_on_duplicates(spark):
    """A planted exact duplicate of a query must be its top-1 IVF-PQ
    result: same vector -> same cluster, same code, max ADC score, and
    the exact re-rank puts cosine=1 first."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    dup = emb.iloc[:4].copy()
    dup["vec_id"] = dup["vec_id"] + 100_000
    big = spark.createDataFrame(pd.concat([emb, dup], ignore_index=True))
    q = big.filter(F.col("vec_id") >= 100_000)
    out = similarity.cosine_topk_ivfpq(
        q, big, k=3, n_clusters=8, nprobe=2, m=8, ks=16
    ).toPandas()
    top1 = out[out["rank"] == 1].set_index("query_id")["target_id"]
    for qid in (100_000, 100_001, 100_002, 100_003):
        assert int(top1[qid]) == qid - 100_000
    assert (out[out["rank"] == 1]["cosine"] == 1.0).all()


def test_pq_encode_codes_shape_and_reconstruction():
    """Codebook training sanity: codes are [n, m] uint8 < ks, and the PQ
    reconstruction approximates normalized vectors better than a random
    codebook assignment."""
    rng = np.random.default_rng(3)
    V = rng.standard_normal((500, 64))
    books = similarity.train_pq(V, m=8, ks=16)
    codes = similarity.pq_encode_np(V, books)
    assert codes.shape == (500, 8) and codes.dtype == np.uint8 and codes.max() < 16
    x = V / np.linalg.norm(V, axis=1, keepdims=True)
    recon = np.concatenate(
        [books[j][codes[:, j]] for j in range(8)], axis=1
    )
    err = np.linalg.norm(x - recon, axis=1).mean()
    rand_codes = rng.integers(0, 16, codes.shape)
    rand_recon = np.concatenate(
        [books[j][rand_codes[:, j]] for j in range(8)], axis=1
    )
    rand_err = np.linalg.norm(x - rand_recon, axis=1).mean()
    assert err < 0.7 * rand_err


def test_connected_components_chain_and_islands(spark):
    """CC over a 12-node path (worst-case diameter — pointer jumping must
    collapse it without hitting the round budget), two islands, a
    triangle, and isolated implicit singletons via the caller-side
    left-join convention."""
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(11)]  # n00..n11 path
    tri = [("t1", "t2"), ("t2", "t3"), ("t1", "t3")]
    island = [("z8", "z9")]
    edges = spark.createDataFrame(chain + tri + island, ["id_a", "id_b"])
    cc = dedup.connected_components(edges).toPandas().set_index("node")["component"]
    assert all(cc[f"n{i:02d}"] == "n00" for i in range(12))
    assert all(cc[t] == "t1" for t in ("t1", "t2", "t3"))
    assert cc["z8"] == "z8" and cc["z9"] == "z8"
    assert len(cc) == 17  # only edge endpoints appear


def test_connected_components_lineage_cut_bounded_plan(spark):
    """Scale guard for deep graphs: a 130-node path needs ~9 pointer-jump
    rounds; without the lineage cut the logical plan grows with every
    round and Catalyst analysis becomes the bottleneck (a depth-3 run
    already EXPLAINs to ~47k lines, and the pointer-jump self-join
    DOUBLES the plan per round). Cuts are size-triggered, so the
    returned frame's plan must be bounded — at most ~2x the cut
    threshold on top of a flat parquet scan — and exactly ONE spill dir
    may stay live (superseded cuts deleted eagerly), with no
    cache-handle leak."""
    import os

    from jpspark.ops.dedup import _CC_CUT_DIRS

    n = 130
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(n - 1)]
    edges = spark.createDataFrame(chain, ["id_a", "id_b"])

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    cached0 = n_cached()
    dirs0 = set(_CC_CUT_DIRS)
    cc = dedup.connected_components(edges)
    plan = cc._jdf.queryExecution().analyzed().toString()
    got = cc.toPandas().set_index("node")["component"]
    assert len(got) == n and all(got[f"c{i:03d}"] == "c000" for i in range(n))
    # bounded plan: a NO-cut run at this depth is O(rounds) joins deep
    # (hundreds of thousands of chars); the size-triggered cut keeps it
    # under ~2x the threshold over a LogicalRDD/scan leaf
    assert len(plan) < 60_000, f"plan not cut: {len(plan)} chars"
    live = set(_CC_CUT_DIRS) - dirs0
    # the FINAL label cut (superseded label cuts deleted in-loop); the
    # edge spill is skipped here — a createDataFrame local relation is
    # already flat, so cutting it would only add a parquet round trip
    assert len(live) == 1
    assert all(os.path.isdir(d) for d in live)
    # cache hygiene: only the final label frame stays pinned (backs the
    # returned rows); every per-round and per-cut handle was released
    assert n_cached() - cached0 <= 1
    cc.unpersist()


def test_connected_components_convergence_guard(spark):
    """max_rounds=0-ish budget must raise loudly, not return partial
    labels (a silent under-propagated clustering would merge nothing)."""
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="convergence"):
        dedup.connected_components(edges, max_rounds=1)
    # 2 rounds suffice for diameter 2 with pointer jumping
    cc = dedup.connected_components(edges, max_rounds=3).toPandas()
    assert set(cc["component"]) == {"a"}


def test_connected_components_jump_schedule_invariant(spark, monkeypatch):
    """Labels must be independent of the deep-round pointer-jump count
    (`_CC_DEEP_JUMPS`, round-7 value 5): any schedule converges
    to the same per-component min label, only the round count differs.
    Pinned on a diameter-499 path — deep enough that every setting takes
    multiple deep rounds."""
    n = 500
    chain = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(chain, ["id_a", "id_b"])
    results = {}
    for jumps in (1, 3, 5):
        monkeypatch.setattr(dedup, "_CC_DEEP_JUMPS", jumps)
        got = (
            dedup.connected_components(edges, max_rounds=40)
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )
        results[jumps] = got
        assert (got["component"] == 0).all() and len(got) == n
    pd.testing.assert_frame_equal(results[1], results[3])
    pd.testing.assert_frame_equal(results[3], results[5])


def test_iterative_ops_release_caches_on_non_convergence(spark):
    """A call that hits max_rounds raises and returns nothing, so it must
    leave no persisted frame behind: CC's edge and label caches, SSSP's
    last distance cache."""
    from jpspark.ops import graph

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["id_a", "id_b"])
    before = n_cached()
    with pytest.raises(RuntimeError, match="convergence"):
        dedup.connected_components(edges, max_rounds=1)
    assert n_cached() == before

    chain = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3], "w": [1.0, 1.0, 1.0]})
    )
    before = n_cached()
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.shortest_paths(chain, source=0, max_rounds=1)
    assert n_cached() == before


def test_reliable_checkpoint_cuts_match_spill(spark, tmp_path):
    """With a checkpoint dir on the session the lineage cuts use
    df.checkpoint instead of the parquet spill: CC labels (130-node
    chain) and SSSP distances (24-node chain) must equal the spill-mode
    results, and no spill dir may be registered."""
    from jpspark.ops import graph

    sc = spark.sparkContext
    n = 130
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(n - 1)]
    cc_edges = spark.createDataFrame(chain, ["id_a", "id_b"])
    m = 24
    sp_edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": list(range(m - 1)),
                "dst": list(range(1, m)),
                "w": [1.0 + (i % 4) / 4.0 for i in range(m - 1)],
            }
        )
    )

    def run():
        cc = dedup.connected_components(cc_edges)
        labels = sorted(map(tuple, cc.collect()))
        cc.unpersist()
        dist = graph.shortest_paths(sp_edges, source=0)
        return labels, sorted(map(tuple, dist.collect()))

    spilled = run()
    dirs0 = set(dedup._CC_CUT_DIRS)
    sc.setCheckpointDir(str(tmp_path))
    try:
        checkpointed = run()
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert checkpointed == spilled
    assert list(tmp_path.glob("*/rdd-*"))  # the checkpoint branch ran
    assert set(dedup._CC_CUT_DIRS) == dirs0
    dedup.release_cc_spills()


def test_band_exchanges_carry_only_id_and_key(spark):
    """The LSH band self-joins (minhash, embedding, Hamming) exchange the
    explode leg only: one side's id and the 8-byte band key — plus, for
    the Hamming join, the 8-byte hash. Signatures and vectors re-join
    after the pair dedup and never ride a band exchange. Checked with
    the band-join broadcast and with it forced to a shuffle."""
    import importlib.util
    from pathlib import Path

    from jpspark.ops.bucketing import physical_plan

    path = Path(__file__).resolve().parents[1] / "scripts" / "explain_plans.py"
    spec = importlib.util.spec_from_file_location("explain_plans", path)
    explain_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(explain_plans)

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(6)), "text": ["a b c d e f"] * 3 + ["u v w x y z"] * 3}
        )
    )
    rng = np.random.default_rng(0)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(6)),
                "embedding": [rng.normal(size=8).tolist() for _ in range(6)],
            }
        )
    )
    cases = [
        (lambda: dedup.minhash_lsh_pairs(dedup.minhash_signatures(docs)), "bucket", ()),
        (lambda: dedup.embedding_neardup_lsh(emb), "bkey", ()),
        (lambda: dedup.hamming_block_pairs(dedup.simhash64(docs), "simhash", 3), "kv", ("h",)),
    ]
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    try:
        for threshold in (old, "-1"):
            # frames are built under the setting: a plan is fixed on first use
            spark.conf.set(conf, threshold)
            for build, key, rides in cases:
                found = explain_plans.band_exchanges(physical_plan(build()), key)
                assert found, f"no band exchange keyed on {key}"
                for cols in found:
                    side = "a" if "id_a" in cols else "b"
                    allowed = {f"id_{side}", key} | {f"{c}_{side}" for c in rides}
                    assert key in cols and set(cols) <= allowed, (key, cols)
    finally:
        spark.conf.set(conf, old)


def test_asof_join_reserved_column_guard(spark):
    """Round-4 ADVICE: inputs that already carry a working/output name
    (_k/_t/_side/_rid/_rrow/asof) would be silently clobbered by
    withColumn — the operator must refuse loudly instead."""
    from jpspark.ops import asof

    left = spark.createDataFrame([(1, 10, "x")], ["k", "ts", "asof"])
    right = spark.createDataFrame([(1, 5, 100)], ["k", "ts", "rid"])
    with pytest.raises(ValueError, match="asof"):
        asof.asof_join_backward(left, right, "k", "k", "ts", "ts", "rid", ["rid"])
    r2 = right.withColumnRenamed("rid", "_side")
    l2 = left.withColumnRenamed("asof", "val")
    with pytest.raises(ValueError, match="_side"):
        asof.asof_join_backward(l2, r2, "k", "k", "ts", "ts", "_side", ["_side"])


def test_asof_join_backward_semantics(spark):
    """As-of join contract: latest right row with t <= left t; equal
    timestamps count (right sorts before left); ties at equal time go to
    the greatest right id; keys with no prior right row get a null
    struct; right rows never create output rows."""
    import datetime as dt

    from jpspark.ops import asof

    T = lambda d: dt.datetime(2024, 1, d)
    left = spark.createDataFrame(
        [(1, 10, T(5)), (2, 10, T(2)), (3, 20, T(4)), (4, 30, T(9))],
        ["event_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [
            (100, 10, T(2), 5.0),   # equal ts as event 2 -> counts
            (101, 10, T(2), 6.0),   # same ts, greater id -> wins the tie
            (102, 10, T(4), 7.0),   # latest <= T(5) for event 1
            (103, 20, T(6), 8.0),   # AFTER event 3 -> no match for key 20
            (104, 30, None, 9.0),   # NULL ts matches NOTHING (t <= ts is
                                    # never true) — must not become the
                                    # "earliest" row via NULLS FIRST
        ],
        ["oid", "k", "t", "v"],
    )
    out = asof.asof_join_backward(
        left, right, "k", "k", "ts", "t", "oid", ["oid", "v"]
    ).toPandas().set_index("event_id")
    assert out.loc[1, "asof"]["oid"] == 102 and out.loc[1, "asof"]["v"] == 7.0
    assert out.loc[2, "asof"]["oid"] == 101  # tie at T(2): max id wins
    assert out.loc[3, "asof"] is None or out.loc[3, "asof"]["oid"] is None
    assert out.loc[4, "asof"] is None or out.loc[4, "asof"]["oid"] is None
    assert len(out) == 4  # right rows don't surface


def test_release_cc_spills_reclaims_dirs(spark):
    """Long-lived-driver lifecycle: after a CC run's results are fully
    materialized and discarded, release_cc_spills() must delete every
    retained spill dir (edge materialization + final label cut) and
    empty the registry — the bounded alternative to waiting for
    interpreter exit in per-batch pipelines."""
    import os

    from jpspark.ops.dedup import _CC_CUT_DIRS

    chain = [(f"r{i:03d}", f"r{i+1:03d}") for i in range(64)]
    edges = spark.createDataFrame(chain, ["id_a", "id_b"])
    before = set(_CC_CUT_DIRS)
    cc = dedup.connected_components(edges)
    got = cc.toPandas()
    assert len(got) == 65
    cc.unpersist()
    del cc, got
    new_dirs = set(_CC_CUT_DIRS) - before
    assert new_dirs and all(os.path.isdir(d) for d in new_dirs)
    dedup.release_cc_spills()
    assert not _CC_CUT_DIRS
    assert all(not os.path.isdir(d) for d in new_dirs)


# ---------------------------------------------------------------------------
# learned BPE (round 6): trainer pinned on hand-computed goldens; the two
# independent encoders (list-walk kernel vs regex scan-replace, the oracle's
# formulation) must agree on every corpus word.


def test_bpe_trainer_hand_golden():
    from jpspark.ops import bpe

    # ab x3, abc x2 -> (a,b) count 5 merges first; then (ab,c) count 2
    merges = bpe.train_bpe(["ab ab ab", "abc abc"], n_merges=10)
    assert merges == [("a", "b"), ("ab", "c")]
    # encode replays in training order: abcab -> [abc, ab]
    assert bpe.encode_word("abcab", merges) == ["abc", "ab"]
    assert bpe.token_count_py("abcab ab q", merges) == 4


def test_bpe_trainer_tie_break_deterministic():
    from jpspark.ops import bpe

    # (x,y) and (z,w) both count 2: tie breaks to the LARGEST pair
    # lexicographically -> (z,w) first, regardless of corpus order
    for corpus in (["xy xy zw zw"], ["zw xy zw xy"], ["zw zw", "xy xy"]):
        assert bpe.train_bpe(corpus, n_merges=2) == [("z", "w"), ("x", "y")]


def test_bpe_min_count_stops_singleton_merges():
    from jpspark.ops import bpe

    assert bpe.train_bpe(["abc def"], n_merges=10) == []  # every pair count 1


def test_bpe_kernel_matches_regex_replay_oracle():
    import re

    from jpspark.ops import bpe

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe.train_bpe(sorted(pdf["text"].tolist()), n_merges=60)
    assert len(merges) == 60

    def regex_count(text: str) -> int:
        n = 0
        for w in text.split():
            s = " ".join(w)
            for a, b in merges:
                ab = a + b
                s = re.sub(r"(?<!\S)" + re.escape(a + " " + b) + r"(?!\S)", lambda _m: ab, s)
            n += len(s.split())
        return n

    cache: dict = {}
    for t in pdf["text"]:
        assert bpe.token_count_py(t, merges, cache) == regex_count(t)
    # compression sanity: strictly between word count and char count
    tot = sum(bpe.token_count_py(t, merges, cache) for t in pdf["text"])
    ws = sum(len(t.split()) for t in pdf["text"])
    ch = sum(len(t.replace(" ", "")) for t in pdf["text"])
    assert ws < tot < ch


def test_bpe_token_counts_spark_matches_python(spark):
    from jpspark.ops import bpe

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe.train_bpe(sorted(pdf["text"].tolist()), n_merges=60)
    sdf = spark.createDataFrame(pdf[["doc_id", "text"]])
    got = bpe.bpe_token_counts(sdf, merges).toPandas().set_index("doc_id")
    cache: dict = {}
    for _, r in pdf.iterrows():
        assert got.loc[r["doc_id"], "n_bpe_tokens"] == bpe.token_count_py(r["text"], merges, cache)
        assert got.loc[r["doc_id"], "n_ws_tokens"] == len(r["text"].split())


# ------------------------------------------- round-6 curation operators

def test_redact_pii_email_first_and_counts(spark):
    from jpspark.ops import textstats as ts

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3],
                "t": [
                    # digit-bearing local part: email must win before the
                    # phone pattern can eat its digits
                    "mail 12-345-678-9012a@x.co and 12-345-678-9012 done",
                    "no pii here at all",
                    "two phones 11-222-333-4444 99-888-777-6666",
                ],
            }
        )
    )
    out = (
        df.select(
            "id",
            ts.pii_email_count(F.col("t")).alias("ne"),
            ts.pii_phone_count(F.col("t")).alias("np"),
            ts.redact_pii(F.col("t")).alias("red"),
        )
        .orderBy("id")
        .toPandas()
    )
    assert out["ne"].tolist() == [1, 0, 0]
    # counts are taken pre-redaction: row 1's digits match BOTH patterns
    assert out["np"].tolist() == [2, 0, 2]
    assert out["red"][0] == "mail <EMAIL> and <PHONE> done"
    assert out["red"][1] == "no pii here at all"
    assert out["red"][2] == "two phones <PHONE> <PHONE>"


def test_url_host_normalization(spark):
    from jpspark.ops.text import url_host

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "u": [
                    "https://WWW.Example.COM/a/b",
                    "http://example.com:8080/x",
                    "ftp://www.Sub.Example.com",  # no path at all
                    "not a url",
                    "https://example.com?sid=1",   # path-less query string
                    "https://Example.com#frag",    # path-less fragment
                    "https://user:pw@example.com/x",  # userinfo stripped
                ]
            }
        )
    )
    got = [r[0] for r in df.select(url_host(F.col("u"))).collect()]
    assert got == [
        "example.com",
        "example.com",
        "sub.example.com",
        "",
        "example.com",
        "example.com",
        "example.com",
    ]


def test_repetition_stats_closed_form(spark):
    from jpspark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a a a a",          # top word 4/4, top bigram 'a a' 3/3
                    "a b c d",          # all distinct, every bigram unique
                    "w",                # single word: zero bigrams
                ],
            }
        )
    )
    out = repetition_stats(df).orderBy("doc_id").toPandas()
    assert out["n_words"].tolist() == [4, 4, 1]
    assert out["distinct_word_ratio"].tolist() == [0.25, 1.0, 1.0]
    assert out["top_word_frac"].tolist() == [1.0, 0.25, 1.0]
    assert out["top_bigram_frac"].tolist() == [1.0, 0.3333, 0.0]


def test_bigram_lm_scores_closed_form(spark):
    import math

    from jpspark.ops.textstats import bigram_lm_scores

    # corpus: "a b a b" + "a c" + "z" -> bigrams: (a b)x2, (b a)x1, (a c)x1
    # ctx: a->3, b->1; V = 4 (a, b, c, AND the bigram-less doc's z)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b a b", "a c", "z"]})
    )
    out = bigram_lm_scores(df).orderBy("doc_id").toPandas().set_index("doc_id")
    assert out["n_bigrams"].tolist() == [3, 1, 0]
    p_ab = (2 + 1) / (3 + 4)   # c12=2, c1(a)=3, k=1, V=4
    p_ba = (1 + 1) / (1 + 4)
    p_ac = (1 + 1) / (3 + 4)
    nll1 = round(-(math.log(p_ab) * 2 + math.log(p_ba)) / 3, 6)
    nll2 = round(-math.log(p_ac), 6)
    assert out.loc[1, "avg_nll"] == nll1
    assert out.loc[2, "avg_nll"] == nll2
    assert out.loc[1, "ppl"] == round(math.exp(nll1), 4)
    # single-word doc: no bigrams, null scores
    assert pd.isna(out.loc[3, "avg_nll"]) and pd.isna(out.loc[3, "ppl"])


def test_bigram_lm_unseen_backoff(spark):
    import math

    from jpspark.ops.textstats import bigram_lm_scores

    train = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b"]}))
    score = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": ["x y"]}))
    out = bigram_lm_scores(train, score).toPandas()
    # unseen bigram AND unseen context back off to k/(k*V) = 1/2
    assert out["avg_nll"].tolist() == [round(-math.log(1 / 2), 6)]


def test_jis_mesh_known_codes_and_bounds(spark):
    from jpspark.geom import jismesh

    # Tokyo Station (35.681236 N, 139.767125 E): published JIS X 0410
    # codes are 5339 / 533946 / 53394611
    df = spark.createDataFrame(pd.DataFrame({"lat": [35.681236, 34.7024854], "lon": [139.767125, 135.4959506]}))
    out = df.select(
        jismesh.mesh1(F.col("lat"), F.col("lon")).alias("m1"),
        jismesh.mesh2(F.col("lat"), F.col("lon")).alias("m2"),
        jismesh.mesh3(F.col("lat"), F.col("lon")).alias("m3"),
        jismesh.mesh_half(F.col("lat"), F.col("lon")).alias("mh"),
    ).toPandas()
    assert out["m1"].tolist() == [5339, 5235]       # Tokyo, Osaka
    assert out["m2"].tolist() == [533946, 523503]
    assert out["m3"].tolist() == [53394611, 52350349]
    assert (out["mh"] // 10).tolist() == [53394611, 52350349]
    assert set(out["mh"] % 10) <= {1, 2, 3, 4}

    # decode round-trip: every point must fall inside its own mesh3 box
    back = (
        df.select("lat", "lon", jismesh.mesh3(F.col("lat"), F.col("lon")).alias("m3"))
        .select("lat", "lon", *jismesh.mesh3_bounds(F.col("m3")))
        .toPandas()
    )
    assert ((back["lat"] >= back["lat_lo"]) & (back["lat"] < back["lat_hi"])).all()
    assert ((back["lon"] >= back["lon_lo"]) & (back["lon"] < back["lon_hi"])).all()
    # a 3rd-level square is 30" x 45"
    assert np.allclose(back["lat_hi"] - back["lat_lo"], 30 / 3600)
    assert np.allclose(back["lon_hi"] - back["lon_lo"], 45 / 3600)


def test_ngram_contamination_closed_form(spark):
    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e", "x y z w"]})
    )
    test = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13, 14],
                "text": [
                    "a b c d",          # both trigrams in train doc 1
                    "p q r s",          # nothing in train
                    "c d e f g",        # 1 of 3 trigrams hits
                    "a b c a b c a b",  # repeats: distinct grams only
                    "a b",              # too short for any trigram
                ],
            }
        )
    )
    out = (
        dedup.ngram_contamination(train, test, n=3)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[10, "n_ngrams"] == 2 and out.loc[10, "n_hit"] == 2
    assert out.loc[10, "contamination"] == 1.0 and out.loc[10, "n_train_docs"] == 1
    assert out.loc[11, "n_hit"] == 0 and out.loc[11, "n_train_docs"] == 0
    assert out.loc[12, "n_ngrams"] == 3 and out.loc[12, "n_hit"] == 1
    assert out.loc[12, "contamination"] == 0.3333
    # repeated trigrams collapse: 'a b c'/'b c a'/'c a b' -> 3 distinct
    assert out.loc[13, "n_ngrams"] == 3 and out.loc[13, "n_hit"] == 1
    # short docs are KEPT (explode_outer), with zero grams and null ratio
    assert out.loc[14, "n_ngrams"] == 0 and out.loc[14, "n_hit"] == 0
    assert pd.isna(out.loc[14, "contamination"]) and out.loc[14, "n_train_docs"] == 0


def test_haversine_and_bearing_python_replay(spark):
    import math

    from jpspark.geom import geodesic

    pts = pd.DataFrame(
        {
            "lat1": [35.681236, 43.068661, 26.2124],
            "lon1": [139.767125, 141.350755, 127.6809],
            "lat2": [34.7024854, 35.681236, 35.681236],
            "lon2": [135.4959506, 139.767125, 139.767125],
        }
    )
    out = (
        spark.createDataFrame(pts)
        .select(
            geodesic.haversine_km(
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
            ).alias("d"),
            geodesic.initial_bearing_deg(
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
            ).alias("b"),
        )
        .toPandas()
    )

    def hav(lat1, lon1, lat2, lon2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
        a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        return round(2 * math.atan2(math.sqrt(a), math.sqrt(1 - a)) * 6371.0088, 4)

    for i, r in pts.iterrows():
        assert abs(out.loc[i, "d"] - hav(r.lat1, r.lon1, r.lat2, r.lon2)) < 1e-3
    # Tokyo->Osaka is ~400 km pointing roughly WSW; Sapporo->Tokyo ~830 km S
    assert 395 < out.loc[0, "d"] < 410 and 240 < out.loc[0, "b"] < 260
    assert 820 < out.loc[1, "d"] < 840 and 170 < out.loc[1, "b"] < 200
    assert (out["b"] >= 0).all() and (out["b"] < 360).all()


def test_substring_dedup_spans_and_strip(spark):
    """Hand-golden for duplicated_substring_spans/strip (k=3):
    doc 1 and doc 2 share the run "p q r s" (two 3-gram anchors at
    positions 1,2 in doc 1 / 0,1 in doc 2 -> ONE merged span each);
    doc 3 repeats "m n o" within itself (both occurrences excised);
    doc 4 is unique and survives untouched; doc 5 has fewer than k
    words (no grams, untouched)."""
    import pandas as pd

    from jpspark.ops import dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "a p q r s b",        # span [1,5)
                    "p q r s c d",        # span [0,4)
                    "m n o x y m n o",    # spans [0,3) and [5,8)
                    "unique words only here",
                    "t u",
                ],
            }
        )
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicated_substring_spans(docs, k=3).collect()
    }
    assert spans == {(1, 1, 5), (2, 0, 4), (3, 0, 3), (3, 5, 8)}

    out = {
        r.doc_id: r
        for r in dedup.strip_duplicated_substrings(docs, k=3).collect()
    }
    assert out[1].text_clean == "a b" and out[1].n_spans == 1 and out[1].dup_words == 4
    assert out[2].text_clean == "c d"
    assert out[3].text_clean == "x y" and out[3].n_spans == 2 and out[3].dup_words == 6
    assert out[4].text_clean == "unique words only here" and out[4].n_spans == 0
    assert out[5].text_clean == "t u" and out[5].dup_words == 0
    assert out[3].n_words == 8


def test_map_match_viterbi_switch_vs_stay(spark):
    """Hand-golden Viterbi: two parallel horizontal lines (y=0, y=10), a
    track that hugs line 0 then line 1. Cheap switch cost -> the optimal
    path switches (cost 0.1*4 + 0.5, ends on line 1); prohibitive switch
    cost -> it stays, tie between lines broken to the first index."""
    import pandas as pd

    from jpspark.geom import linear
    from jpspark.ops import mapmatch

    vx = spark.createDataFrame(
        pd.DataFrame(
            {
                "line_id": [0, 0, 1, 1],
                "seq": [0, 1, 0, 1],
                "x": [0.0, 3.0, 0.0, 3.0],
                "y": [0.0, 0.0, 10.0, 10.0],
            }
        )
    )
    seg = linear.segments_from_vertices(vx)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [5, 5, 5, 5],
                "i": [1, 2, 3, 4],
                "x": [0.0, 1.0, 2.0, 3.0],
                "y": [0.1, 0.1, 9.9, 9.9],
            }
        )
    )
    cheap = mapmatch.map_match(pts, seg, switch_cost=0.5).collect()[0]
    assert (cheap.n_pts, cheap.cost_u6, cheap.best_line) == (4, 900000, 1)
    stay = mapmatch.map_match(pts, seg, switch_cost=100.0).collect()[0]
    assert (stay.cost_u6, stay.best_line) == (20000000, 0)


def test_shortest_paths_hand_golden(spark):
    """Hand graph: 0->1 (1.0), 1->2 (2.0), 0->2 (4.0) -> dist(2)=3.0 via
    the two-hop path; node 3 only has an OUTGOING edge to 0, so it is
    absent from the result (unreachable); round counter exposed."""
    import pandas as pd

    from jpspark.ops import graph

    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": [0, 1, 0, 3],
                "dst": [1, 2, 2, 0],
                "w": [1.0, 2.0, 4.0, 1.0],
            }
        )
    )
    out = {r.node: r.dist for r in graph.shortest_paths(edges, source=0).collect()}
    assert out == {0: 0.0, 1: 1.0, 2: 3.0}
    assert graph.SSSP_LAST_ROUNDS >= 2

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        graph.shortest_paths(edges, source=0, max_rounds=1)


def test_shortest_paths_chain_lineage_cut(spark):
    """A 24-node path forces ~24 relaxation rounds — deep enough that the
    size-triggered lineage cut must fire (the plan doubles per round
    without it). Distances stay exact and spill dirs are registered for
    the shared CC release lifecycle."""
    import pandas as pd

    from jpspark.ops import dedup as dd
    from jpspark.ops import graph

    n = 24
    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": list(range(n - 1)),
                "dst": list(range(1, n)),
                "w": [1.0 + (i % 4) / 4.0 for i in range(n - 1)],
            }
        )
    )
    out = {r.node: r.dist for r in graph.shortest_paths(edges, source=0).collect()}
    assert len(out) == n
    expect = 0.0
    for i in range(n - 1):
        assert out[i] == expect
        expect += 1.0 + (i % 4) / 4.0
    assert out[n - 1] == expect
    assert graph.SSSP_LAST_ROUNDS >= n - 1
    # the cut must actually have fired (a regression in the size trigger
    # would keep distances right while the plan doubles per round)
    assert any("jpspark-sssp-cut-" in d for d in dd._CC_CUT_DIRS)
    dd.release_cc_spills()  # reclaim this test's cut dirs


def test_grid_density_hand_golden(spark):
    """3 points on a tiny grid, radius-1 triangular stencil: densities
    checked against a hand-convolved golden (center weight 4, edge 2,
    corner 1)."""
    import pandas as pd

    from jpspark.ops import density

    # two points in cell (0,0), one in (2,0) — cell=1, origin 0
    pts = spark.createDataFrame(
        pd.DataFrame({"x": [0.25, 0.5, 2.5], "y": [0.25, 0.75, 0.5]})
    )
    out = {
        (r.cx, r.cy): r.density
        for r in density.grid_density(pts, cell=1.0, radius=1).collect()
    }
    # cell (0,0) has cnt 2, cell (2,0) cnt 1; (1,0) receives 2*2 + 1*2 = 6
    assert out[(0, 0)] == 8  # 2*4
    assert out[(1, 0)] == 6
    assert out[(2, 0)] == 4  # 1*4
    assert out[(0, 1)] == 4  # 2*2
    assert out[(1, 1)] == 3  # 2*1 + 1*1
    assert out[(-1, -1)] == 2  # corner of the double cell
    assert out[(3, 1)] == 1  # corner of the single cell
    assert sum(out.values()) == 3 * 16  # kernel mass: (1+2+1)^2 per point


def test_grid_density_radius0_is_histogram(spark):
    import pandas as pd

    from jpspark.ops import density

    pts = spark.createDataFrame(pd.DataFrame({"x": [0.1, 0.2, 1.9], "y": [0.0, 0.5, 0.5]}))
    out = {(r.cx, r.cy): r.density for r in density.grid_density(pts, cell=1.0, radius=0).collect()}
    assert out == {(0, 0): 2, (1, 0): 1}


def test_stay_points_hand_golden(spark):
    """One track: 3 dwell points, a jump, 2 dwell points — two stays;
    a second track with a lone point filters out under min_pts=2."""
    import pandas as pd

    from jpspark.geom import linear

    rows = []
    for i, (x, t) in enumerate(
        [(0.0, 0), (0.05, 10), (0.1, 20), (5.0, 30), (5.05, 40)]
    ):
        rows.append(("u1", i, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t), x, 0.0))
    rows.append(("u2", 99, pd.Timestamp("2024-01-01"), 7.0, 7.0))
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "x", "y"])
    )
    out = linear.stay_points(pts, move_q=262144, min_pts=2).orderBy("seg").collect()
    assert [(r.user_id, r.n_pts, r.dwell_s) for r in out] == [("u1", 3, 20), ("u1", 2, 10)]
    # sums are PER-POINT quantized (round each coord, then add):
    # round(0) + round(0.05*2^20) + round(0.1*2^20) = 0 + 52429 + 104858
    assert out[0].sum_xq == 157287
    assert out[1].sum_xq == round(5.0 * 1048576) + round(5.05 * 1048576)


def test_inverted_index_hand_golden(spark):
    import pandas as pd

    from jpspark.ops import textstats as ts

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [3, 1, 2],
                "text": ["b a b", "a c", "a   c c"],
            }
        )
    )
    out = {r.token: (r.df, r.postings) for r in ts.inverted_index(docs).collect()}
    assert out == {
        "a": (3, "1,2,3"),
        "b": (1, "3"),
        "c": (2, "1,2"),
    }
    capped = {
        r.token: (r.df, r.postings)
        for r in ts.inverted_index(docs, max_postings=2).collect()
    }
    assert capped["a"] == (3, None)  # over cap: exact df, NULL postings
    assert capped["c"] == (2, "1,2")


def test_shortest_paths_cut_disabled(spark):
    """cut_plan_chars=0 never spills — the escape hatch for shallow
    graphs on cluster sessions without a checkpoint dir."""
    import pandas as pd

    from jpspark.ops import dedup as dd
    from jpspark.ops import graph

    dd.release_cc_spills()
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1], "dst": [1, 2], "w": [1.0, 2.0]})
    )
    out = {r.node: r.dist for r in graph.shortest_paths(edges, source=0, cut_plan_chars=0).collect()}
    assert out == {0: 0.0, 1: 1.0, 2: 3.0}
    assert not any("jpspark-sssp-cut-" in d for d in dd._CC_CUT_DIRS)
