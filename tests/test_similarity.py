"""Similarity-search operator tests: exact brute-force baseline, the
LSH and IVF approximate scale paths, and dedup signature operators."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.operators import dedup, similarity
from compressed_vec_spark.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-sim-tests", cores=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def qvec(emb):
    return np.array(emb.where(F.col("vec_id") == 0)
                    .select("embedding").first()[0], dtype=np.float64)


def test_bruteforce_topk_matches_numpy(emb):
    q = qvec(emb)
    got = [r["vec_id"] for r in
           similarity.cosine_topk(emb, "vec_id", "embedding", q, k=10,
                                  exclude_ids=(0,)).collect()]
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    sims = (m @ (q / np.linalg.norm(q))) / np.linalg.norm(m, axis=1)
    order = np.lexsort((ids, -sims))
    expected = [int(i) for i in ids[order] if i != 0][:10]
    assert got == expected


def test_ivf_recall(emb):
    q = qvec(emb)
    cents = similarity.train_ivf_centroids(emb, "embedding", n_centroids=16)
    assert cents.shape[1] == 64
    # deterministic training
    again = similarity.train_ivf_centroids(emb, "embedding", n_centroids=16)
    assert (cents == again).all()
    exact = {r["vec_id"] for r in
             similarity.cosine_topk(emb, "vec_id", "embedding", q, 10, (0,)).collect()}
    approx = {r["vec_id"] for r in
              similarity.ivf_topk(emb, "vec_id", "embedding", cents, q, 10,
                                  nprobe=6, exclude_ids=(0,)).collect()}
    assert len(approx & exact) / 10 >= 0.5  # ANN recall floor


def test_ivf_training_sample_spans_partitions(spark):
    """Skewed-partition fixture where a limit() sample provably fails:
    partition 0 holds only cluster A; a first-partition sample would
    place every centroid in A.  The hash-ordered sample must draw from
    all partitions so some centroid lands near cluster B."""
    import pandas as pd
    rng = np.random.default_rng(3)
    a_dir = rng.standard_normal(16)
    b_dir = rng.standard_normal(16)
    rows = []
    for i in range(600):
        c = a_dir if i < 300 else b_dir
        v = c + 0.05 * rng.standard_normal(16)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = (spark.createDataFrame(
              pd.DataFrame(rows, columns=["vec_id", "embedding"]))
          .repartitionByRange(2, "vec_id"))  # p0 = cluster A, p1 = B
    # sample smaller than one partition: limit() would see only A
    cents = similarity.train_ivf_centroids(df, "embedding", n_centroids=4,
                                           sample_rows=200, id_col="vec_id")
    bn = b_dir / np.linalg.norm(b_dir)
    an = a_dir / np.linalg.norm(a_dir)
    assert (cents @ bn).max() > 0.9, "no centroid near cluster B"
    assert (cents @ an).max() > 0.9
    # determinism across invocations
    again = similarity.train_ivf_centroids(df, "embedding", n_centroids=4,
                                           sample_rows=200, id_col="vec_id")
    assert (cents == again).all()


def test_cosine_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """1000 byte-identical embeddings (the degenerate dedup corpus)
    collide in one bucket per table; bucket_cap must drop those
    quadratic groups while planted near-dup pairs in small buckets
    survive."""
    import pandas as pd
    rng = np.random.default_rng(11)
    dup = rng.standard_normal(16)
    dup /= np.linalg.norm(dup)
    rows = [(i, dup.tolist()) for i in range(1000)]
    # planted near-dup pair in its own region of the sphere
    v1 = rng.standard_normal(16)
    v1 /= np.linalg.norm(v1)
    v2 = v1 + 0.02 * rng.standard_normal(16)
    v2 /= np.linalg.norm(v2)
    rows += [(2001, v1.tolist()), (2002, v2.tolist())]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = similarity.cosine_near_dup_lsh(df, "vec_id", "embedding",
                                         threshold_ppm=950000,
                                         bucket_cap=64).collect()
    got = {(r["v1"], r["v2"]) for r in out}
    assert (2001, 2002) in got
    # every identical-group pair was dropped by the cap (they are exact
    # dups — exact dedup's job), so the result is bounded, not 499500
    assert all(p == (2001, 2002) for p in got)


def test_simhash32_properties():
    texts = ["the quick brown fox jumps over the lazy dog " * 5,
             "the quick brown fox jumps over the lazy dogs " * 5,  # near-dup
             "completely different content about spark and parquet " * 5,
             "abc",  # < 4 bytes -> signature 0
             ""]
    sigs = dedup.simhash32(pa.array(texts, type=pa.large_utf8()))
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])
    assert sigs[3] == 0 and sigs[4] == 0
    assert (sigs >= 0).all() and (sigs < (1 << 31)).all()


def test_batch_jaccard_matches_pairwise():
    docs = ["the quick brown fox", "the quick brown foxes",
            "lorem ipsum dolor sit amet", "xy",  # sub-k -> empty set
            "the quick brown fox"]
    t1 = pa.array([docs[0], docs[2], docs[3], docs[0]], type=pa.large_utf8())
    t2 = pa.array([docs[1], docs[2], docs[3], docs[4]], type=pa.large_utf8())
    got = dedup.batch_jaccard(t1, t2, k=5)
    for i in range(len(t1)):
        (_, _, want), = dedup.exact_jaccard_pairs(
            {0: t1[i].as_py(), 1: t2[i].as_py()}, [(0, 1)], k=5)
        assert abs(got[i] - want) < 1e-12, (i, got[i], want)
    assert got[2] == 0.0  # empty vs empty shingle sets: NOT a near-dup
    assert got[1] == 1.0 and got[3] == 1.0


def test_cosine_near_dup_lsh_finds_planted_pairs(spark):
    # planted near-dup pairs + noise vectors; LSH candidates + exact
    # verify must return exactly the >= threshold pairs, with no
    # nested-loop/cartesian join anywhere in the plan
    import pandas as pd
    import plan_helpers as plans
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 32))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(40)]
    # ids 100..104: tiny perturbations of ids 0..4 (cos > 0.99)
    for i in range(5):
        v = base[i] + 0.02 * rng.standard_normal(32)
        rows.append((100 + i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = similarity.cosine_near_dup_lsh(df, "vec_id", "embedding",
                                         threshold_ppm=950000)
    plan = plans.physical_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = {(r["v1"], r["v2"]) for r in out.collect()}
    # exact expectation by brute force
    m = np.stack([np.array(v) for _, v in rows])
    ids = np.array([i for i, _ in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    want = {(int(ids[i]), int(ids[j]))
            for i in range(len(ids)) for j in range(len(ids))
            if ids[i] < ids[j] and np.floor(sims[i, j] * 1e6) >= 950000}
    assert got == want and len(want) >= 5


def test_minhash_verify_plan_broadcasts_candidates(spark):
    """The verify stage must attach texts via broadcast joins of the
    candidate side — never a shuffle of the corpus text column — and
    contain no per-pair Python loop (the Jaccard kernel is one
    vectorized mapInPandas)."""
    import plan_helpers as plans
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup.minhash_near_dups(df, "doc_id", "text")
    plan = plans.physical_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_signature_jaccard_estimate():
    a = "web crawl data pipeline compression engine " * 10
    b = "web crawl data pipeline compression engine " * 9 + "totally new suffix here "
    c = "unrelated text about gardening and cooking recipes " * 10
    sigs = dedup.minhash_signatures(pa.array([a, b, c], type=pa.large_utf8()))
    est_ab = (sigs[0] == sigs[1]).mean()
    est_ac = (sigs[0] == sigs[2]).mean()
    assert est_ab > 0.6 > est_ac


# --- connected components (transitive dedup clusters) ------------------------

def _uf_labels(edges):
    """Reference min-label components via union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    return {r["node"]: r["component"]
            for r in dedup.connected_components(df).collect()}


def test_cc_chain_matches_union_find(spark):
    # a 60-link chain forces multiple large/small-star rounds
    edges = [(i, i + 1) for i in range(60)]
    assert _cc(spark, edges) == _uf_labels(edges)


def test_cc_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, 150, size=(120, 2)) if a != b]
    assert _cc(spark, edges) == _uf_labels(edges)


def test_cc_self_loops_and_duplicates_ignored(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1}  # 5 and 7 have no real pair


def test_cc_empty(spark):
    df = spark.createDataFrame([], "d1 long, d2 long")
    assert dedup.connected_components(df).count() == 0


def test_cc_component_is_min_reachable(spark):
    # two components with hub shapes (star + triangle w/ pendant)
    edges = [(10, 3), (10, 8), (10, 12),       # star rooted at 3
             (20, 21), (21, 22), (22, 20), (22, 99)]  # triangle + pendant
    got = _cc(spark, edges)
    assert {got[3], got[8], got[10], got[12]} == {3}
    assert {got[20], got[21], got[22], got[99]} == {20}


def test_simhash32_matches_per_doc_reference():
    # pins the vectorized kernel (uint32 lanes + reduceat vote identity)
    # to a straightforward per-doc implementation, incl. non-ASCII and
    # doc-length edges around the 4-byte window
    from compressed_vec_spark.operators.dedup import _SH32_W, _SH32_MOD

    def ref_one(t):
        b = t.encode("utf-8", "surrogatepass")
        if len(b) < 4:
            return 0
        votes = np.zeros(31, dtype=np.int64)
        for i in range(len(b) - 3):
            h = (b[i] * _SH32_W[0] + b[i + 1] * _SH32_W[1]
                 + b[i + 2] * _SH32_W[2] + b[i + 3] * _SH32_W[3]) % _SH32_MOD
            for bit in range(31):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        out = 0
        for bit in range(31):
            if votes[bit] > 0:
                out |= 1 << bit
        return out

    rng = np.random.default_rng(5)
    docs = ["", "a", "abc", "abcd", "abcde", "éü世界",
            "x" * 300, "the cat sat " * 40]
    docs += ["".join(chr(rng.integers(32, 0x2ff)) for _ in range(int(n)))
             for n in rng.integers(0, 120, 30)]
    got = dedup.simhash32(pa.array(docs, type=pa.large_utf8()))
    for i, d in enumerate(docs):
        assert got[i] == ref_one(d), (i, repr(d[:40]))


def test_cc_plan_stays_flat_and_shuffle_only(spark):
    # the closure must never degrade to a cartesian/BNLJ, and the
    # per-iteration localCheckpoint must truncate lineage so the final
    # plan does not grow with iteration count (a 60-link chain needs
    # several rounds; an unbounded plan would show every round's joins)
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    out = dedup.connected_components(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # flat lineage: the plan reads from the checkpointed edge scan, not
    # a tower of per-round joins
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 0, plan
    assert len(plan.splitlines()) < 40, len(plan.splitlines())


def test_ivf_recall_at_nprobe_4_planted(spark):
    """Recall harness at nprobe < all lists (r4 verdict: the index was
    only ever exactness-tested at nprobe=all): a planted fixture of 8
    well-separated clusters, query inside cluster 0, true top-10 =
    the 10 planted near-copies.  recall@10 >= 0.95 at nprobe=4 (of 16
    lists), deterministically."""
    rng = np.random.default_rng(1234)
    dim, n_clusters, per = 64, 8, 120
    bases = np.zeros((n_clusters, dim))
    for c in range(n_clusters):          # orthogonal block directions
        bases[c, c * 8:(c + 1) * 8] = 1.0
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows, ids = [], []
    vid = 0
    for c in range(n_clusters):
        pts = bases[c] + 0.05 * rng.standard_normal((per, dim))
        for p in pts:
            rows.append([float(x) for x in p]); ids.append(vid); vid += 1
    q = bases[0] + 0.02 * rng.standard_normal(dim)
    planted_ids = list(range(vid, vid + 10))   # 10 near-copies of q
    for _ in range(10):
        rows.append([float(x) for x in q + 0.005 * rng.standard_normal(dim)])
        ids.append(vid); vid += 1
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": rows}),
        "vec_id long, embedding array<double>").repartition(4)

    exact = [r["vec_id"] for r in
             similarity.cosine_topk(df, "vec_id", "embedding", q, 10)
             .collect()]
    assert set(exact) == set(planted_ids)      # fixture is as planted

    cents = similarity.train_ivf_centroids(df, "embedding",
                                           n_centroids=16)
    run1 = [r["vec_id"] for r in
            similarity.ivf_topk(df, "vec_id", "embedding", cents, q,
                                k=10, nprobe=4).collect()]
    run2 = [r["vec_id"] for r in
            similarity.ivf_topk(df, "vec_id", "embedding", cents, q,
                                k=10, nprobe=4).collect()]
    assert run1 == run2                        # deterministic
    recall = len(set(run1) & set(exact)) / 10
    assert recall >= 0.95, f"recall@10={recall} at nprobe=4"


def test_minhash_candidate_broadcast_gate(spark, monkeypatch):
    """The candidate-pair broadcast is GATED on the measured pair
    count: an oversized list (bound forced to 0 here) must reach the
    verify joins with NO broadcast hint — AQE plans the join — while
    the default bound still hints on a small corpus (r5 verdict: a
    forced broadcast of an O(N) pair list OOMs the driver at scale)."""
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    monkeypatch.setattr(dedup, "CAND_BROADCAST_MAX_PAIRS", 0)
    over = dedup.minhash_near_dups(df, "doc_id", "text")
    analyzed = over._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" not in analyzed

    monkeypatch.setattr(dedup, "CAND_BROADCAST_MAX_PAIRS", 2_000_000)
    under = dedup.minhash_near_dups(df, "doc_id", "text")
    analyzed2 = under._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" in analyzed2
    # gate must not change the verified pair set
    assert ({(r["d1"], r["d2"]) for r in over.collect()}
            == {(r["d1"], r["d2"]) for r in under.collect()})


def test_band_hashes_key_each_band_of_rows():
    rng = np.random.default_rng(7)
    sigs = rng.integers(0, 2**32, size=(3, 16), dtype=np.uint64)
    sigs[1] = sigs[0]
    sigs[1, 5] += 1                   # differs from row 0 in band 2 only
    keys = dedup.band_hashes(sigs, rows_per_band=2)
    assert keys.shape == (3, 8) and keys.dtype == np.int64
    assert (keys >= 0).all()
    same = keys[0] == keys[1]
    assert same.tolist() == [b != 2 for b in range(8)]
    assert not (keys[0] == keys[2]).any()
    # a band key depends on the order of its rows
    swapped = sigs[:1, [1, 0] + list(range(2, 16))]
    assert dedup.band_hashes(swapped)[0, 0] != keys[0, 0]


def test_token_gram_hashes_match_per_doc_grams():
    docs = ["a b c a b c", "x y", "b c a", "", "one", "a b c d"]
    doc, pos, h = dedup.token_gram_hashes(
        pa.array(docs, type=pa.large_utf8()), 3)
    want = [(d, i + 1, " ".join(toks[i:i + 3]))
            for d, t in enumerate(docs) for toks in [t.split(" ")]
            for i in range(len(toks) - 2)]
    assert list(zip(doc.tolist(), pos.tolist())) == \
        [(d, p) for d, p, _ in want]
    # equal grams hash equal, different grams apart, across docs too
    by_gram = {}
    for (_, _, g), v in zip(want, h.tolist()):
        by_gram.setdefault(g, set()).add(v)
    assert all(len(v) == 1 for v in by_gram.values())
    assert len(set().union(*by_gram.values())) == len(by_gram)
