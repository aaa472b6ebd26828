import numpy as np
import pytest

from vector_database_watermarking_spark.operators import knn


def load_np(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, X


def test_knn_edges_match_numpy_bruteforce(spark, sf_dir):
    ids, X = load_np(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5).collect()
    got = {}
    for r in edges:
        got.setdefault(r["src"], []).append((r["rank"], r["dst"], r["dist"]))
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.inf)
    for i, vid in enumerate(ids):
        order = np.lexsort((ids, np.round(d2[i], 6)))
        expect = [int(ids[j]) for j in order[:5]]
        have = [dst for _, dst, _ in sorted(got[vid])]
        assert have == expect, f"src {vid}"


def test_knn_partitioning_invariance(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(
        (r["src"], r["rank"], r["dst"])
        for r in knn.knn_edges(emb, k=3).collect()
    )
    b = sorted(
        (r["src"], r["rank"], r["dst"])
        for r in knn.knn_edges(emb.repartition(13), k=3).collect()
    )
    assert a == b


def test_query_counts_total(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    edges = knn.knn_edges(emb, k=5)
    qc = knn.query_counts(edges, emb)
    rows = qc.collect()
    assert len(rows) == n
    # every query contributes exactly k hits
    assert sum(r["query_count"] for r in rows) == n * 5


def test_lsh_tier_recall(spark, sf_dir):
    """LSH candidates must recover most true top-5 neighbors (scale
    tier is approximate by design; sanity-check recall > 0.5)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["src"], r["dst"]) for r in knn.knn_edges(emb, k=5).collect()
    }
    approx = {
        (r["src"], r["dst"])
        for r in knn.knn_edges(emb, k=5, exact=False).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5, recall


def test_knn_single_row_base_returns_empty(spark):
    """kk==0 edge (1-row base with self-exclusion) must yield an empty
    result, not crash (regression: argpartition on empty selection)."""
    one = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<float>")
    out = knn.knn_join(one, one, k=5, exact=True)
    assert out.count() == 0
    assert out.columns == ["src", "dst", "dist", "rank"]


def test_disjoint_queries_get_full_k(spark):
    """A query NOT in the base must get min(k, n_base) neighbors even
    with exclude_self=True (regression: the global kk = n−1 clamp lost
    one neighbor for disjoint query/base sets)."""
    base = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(100, [1.5, 0.0])], "vec_id long, embedding array<float>"
    )
    out = knn.knn_join(q, base, k=10, exact=True).collect()
    assert len(out) == 4  # all 4 base rows are valid neighbors
    # and a query IN the base still excludes itself
    q2 = spark.createDataFrame(
        [(2, [2.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out2 = knn.knn_join(q2, base, k=10, exact=True).collect()
    assert len(out2) == 3
    assert all(r["dst"] != 2 for r in out2)
    assert [r["rank"] for r in sorted(out2, key=lambda r: r["rank"])] == [1, 2, 3]


def test_lsh_dense_cluster_queries_still_get_candidates(spark):
    """Hot-bucket capping must down-sample dense clusters, not blind
    them: queries inside a duplicate cluster still find neighbors."""
    import numpy as np

    rng = np.random.RandomState(3)
    base_vec = rng.randn(16).astype("float32") * 0.3
    rows = [(i, (base_vec + rng.randn(16).astype("float32") * 1e-4).tolist()) for i in range(1500)]
    rows += [(10_000 + i, (rng.randn(16) * 0.3).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn.knn_join(df, df, k=3, exact=False)
    in_cluster = out.filter("src < 1500")
    assert in_cluster.count() > 0
    # cluster queries' neighbors are overwhelmingly other cluster members
    frac = in_cluster.filter("dst < 1500").count() / in_cluster.count()
    assert frac > 0.9, frac


def _fold_topk(q_rows, b_rows, k):
    """Reference for the exact tiers: the full sequential float64 fold
    over every pair, then ``lexsort((ids, round(d², 6)))`` per query,
    self-hits and non-finite keys dropped. Rows are (src, rank, dst,
    dist bits)."""
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    b_rows = sorted(b_rows, key=lambda r: r[0])
    b_ids = np.array([r[0] for r in b_rows], dtype=np.int64)
    B = np.array([r[1] for r in b_rows], dtype=np.float64)
    d2 = np.zeros((len(Q), len(B)))
    for i in range(B.shape[1]):
        diff = Q[:, i][:, None] - B[:, i][None, :]
        d2 += diff * diff
    key = np.round(d2, 6)
    key[q_ids[:, None] == b_ids[None, :]] = np.inf
    out = []
    for r, src in enumerate(q_ids):
        for rank, j in enumerate(np.lexsort((b_ids, key[r]))[:k], 1):
            if np.isfinite(key[r, j]):
                out.append((int(src), rank, int(b_ids[j]), float(np.sqrt(d2[r, j])).hex()))
    return sorted(out)


def _parity_cases():
    rng = np.random.RandomState(11)
    clique = [
        (g * 100 + m, vec)
        for g in range(3)
        for vec in [rng.randn(8).tolist()]
        for m in range(15)
    ]
    # squared offsets at (j + 1/2)·1e-6 from a far-off center, ids
    # shuffled: fold keys land on both sides of each rounding boundary,
    # and at |c|² ≈ 10¹¹ the Gram screen's cancellation error exceeds
    # 1e-6, so only the δ term of the threshold keeps the neighbors
    center = rng.randn(8) * 1e5
    direction = rng.randn(8)
    direction /= np.linalg.norm(direction)
    ids = rng.permutation(40)
    boundary = [
        (int(ids[j]), (center + direction * np.sqrt((j // 2 + 0.5) * 1e-6)).tolist())
        for j in range(40)
    ]
    far = [(i, (rng.randn(16) * 0.3).tolist()) for i in range(50)]
    return {
        "duplicate_clique": (clique, clique, 10),
        "rounding_boundary": (boundary + [(1000, center.tolist())], boundary, 10),
        "base_smaller_than_k": (clique[:4], clique[:4], 10),
        "query_not_in_base": ([(1000, [0.05] * 16)], far, 5),
    }


@pytest.mark.parametrize(
    "case", ["duplicate_clique", "rounding_boundary", "base_smaller_than_k", "query_not_in_base"]
)
def test_screened_kernel_matches_sequential_fold(spark, case):
    """The screened Gram kernel returns exactly what a full sequential
    fold would: same (src, rank, dst) and the same float64 dist bits,
    on ties at distance 0, keys straddling a 1e-6 rounding boundary,
    a base smaller than k + 1 and a query outside the base."""
    q_rows, b_rows, k = _parity_cases()[case]
    schema = "vec_id long, embedding array<double>"
    q = spark.createDataFrame(q_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    got = sorted(
        (r["src"], r["rank"], r["dst"], r["dist"].hex())
        for r in knn.knn_join(q, b, k=k).collect()
    )
    assert got == _fold_topk(q_rows, b_rows, k)


def _fixture_rows(spark, sf):
    return [
        (r["vec_id"], list(r["embedding"]))
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ]


@pytest.mark.parametrize("tier", ["broadcast", "blocked"])
def test_screened_kernel_matches_fold_on_fixture(spark, sf001_dir, monkeypatch, tier):
    """Bit parity on the sf0.01 fixture, through the broadcast tier and
    through the blocked tier (forced as in
    ``test_similarity.py::test_scorer_tiers_match``)."""
    if tier == "blocked":
        monkeypatch.setattr(knn, "MAX_BROADCAST_ROWS", 100)
    rows = _fixture_rows(spark, sf001_dir)
    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    got = sorted(
        (r["src"], r["rank"], r["dst"], r["dist"].hex())
        for r in knn.knn_join(emb, emb, k=10).collect()
    )
    assert got == _fold_topk(rows, rows, 10)


def test_screened_kernel_drops_nan_rows(spark, sf_dir):
    """A row with a NaN component gets no neighbors and is nobody's
    neighbor; every other row still matches the fold exactly."""
    rows = _fixture_rows(spark, sf_dir)
    rows[3] = (rows[3][0], [float("nan")] + rows[3][1][1:])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r["src"], r["rank"], r["dst"], r["dist"].hex())
        for r in knn.knn_edges(emb, k=5).collect()
    )
    assert got == _fold_topk(rows, rows, 5)
    assert all(rows[3][0] not in (src, dst) for src, _, dst, _ in got)


def test_lsh_duplicate_collapse_matches_exact(spark):
    """Exact-duplicate cliques (the regime that blew the LSH verify
    stage past 8 minutes at sf1): identical embeddings collapse to one
    representative before banding, and the fanned-out result must EQUAL
    the exact tier — a duplicate member's top-k is its own group's
    other members (distance 0, ascending-id tiebreak), which the
    collapse must reproduce, not approximate."""
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for g in range(40):
        vec = (rng.randn(16) * 5.0).astype("float32").tolist()
        for _ in range(10):  # 10-way exact-duplicate cliques
            rows.append((vid, vec))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    approx = sorted(
        (r["src"], r["rank"], r["dst"], round(r["dist"], 6))
        for r in knn.knn_join(df, df, k=3, exact=False).collect()
    )
    exact = sorted(
        (r["src"], r["rank"], r["dst"], round(r["dist"], 6))
        for r in knn.knn_join(df, df, k=3, exact=True).collect()
    )
    assert approx == exact


def test_lsh_duplicate_collapse_small_groups_and_disjoint_queries(spark):
    """Collapse edge cases: groups smaller than k+1, a query set
    disjoint from the base, and exclude_self=False all keep the
    member fan-out correct."""
    base_rows = [(i, [float(i // 3), 0.0]) for i in range(9)]  # 3-dup groups
    base = spark.createDataFrame(base_rows, "vec_id long, embedding array<float>")
    # disjoint query: nearest group is x=1.0 (ids 3,4,5)
    q = spark.createDataFrame(
        [(100, [1.2, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r["rank"]: r["dst"]
        for r in knn.knn_join(
            q, base, k=3, exact=False, num_hash_tables=16
        ).collect()
    }
    assert got == {1: 3, 2: 4, 3: 5}
    # exclude_self=False: a base member's rank-1 hit is itself's group
    # smallest id at distance 0
    out = knn.knn_join(
        base, base, k=2, exact=False, exclude_self=False, num_hash_tables=16
    )
    got5 = sorted(
        (r["rank"], r["dst"]) for r in out.filter("src = 5").collect()
    )
    assert got5 == [(1, 3), (2, 4)]


def test_lsh_candidate_budget_guard(spark):
    """The LSH tier's measured-precondition guard (the
    prefix_jaccard_pairs house pattern): candidate volume is counted
    exactly BEFORE the embedding-carrying join, and a corpus whose
    buckets are non-discriminative is refused with the measured number
    instead of spilling (measured 100 GB at a 20k iid corpus).
    candidate_budget=None overrides."""
    import pytest

    base = spark.createDataFrame(
        [(i, [float(i % 7) / 7.0] * 8) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="candidate volume"):
        knn.knn_join(base, base, k=2, exact=False, candidate_budget=10)
    out = knn.knn_join(base, base, k=2, exact=False, candidate_budget=None)
    assert out.count() > 0
