"""kNN join — the engine's replacement for the reference's faiss HNSW
index (SURVEY J1/S6/W3/A3).

Reference: ``faiss.IndexHNSWFlat(d, M)`` built at
``/root/reference/watermarking.py:285-290`` and queried row-at-a-time
(``watermarking.py:302-308``). HNSW is approximate and
construction-order dependent; per SURVEY §4.1 the engine's reference
semantics is the **exact kNN graph** (deterministic, oracle-checkable),
with an LSH tier for scale.

Scale notes (100 TB): the exact tier is a blocked cross join — O(n²)
distance evaluations, correct up to ~1e5 rows per side; at cluster
scale use ``knn_join(..., exact=False)`` which buckets with
``BucketedRandomProjectionLSH`` so only same/adjacent-bucket pairs are
compared (candidate generation is an equi-join on bucket id — a plain
shuffle join Catalyst can plan, with AQE skew splitting for hot
buckets). The per-query top-k is a ``row_number`` window partitioned by
query id — partial top-k is pushed map-side by Spark's
``WindowGroupLimit`` (rank-limit pushdown) so the shuffle carries only
candidates, not all pairs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import squared_euclidean
from ..functions.hashing import hash60

#: ranking rounds squared distances to this many decimals before
#: ordering (ties then break by neighbor id) so that the ranking is
#: reproducible across summation orders / engines (SURVEY §4.2:
#: partitioning-invariant results).
_RANK_DECIMALS = 6


def knn_join(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    exact: bool = True,
    exclude_self: bool = True,
    bucket_length: float | None = None,
    num_hash_tables: int = 10,
    candidate_budget: int | None = 100_000_000,
) -> DataFrame:
    """Top-k nearest base vectors for every query vector.

    Inputs are ``(vec_id, embedding)`` DataFrames; output is
    ``(src, dst, dist, rank)`` with ``rank`` 1-based by ascending
    euclidean distance (ties by ``dst``). ``src`` is the query's id.

    Exact tier (:func:`exact_knn` under the :func:`blocked_topk`
    driver): each broadcastable block of the base — the whole base
    when it fits — is broadcast to every task and each Arrow batch of
    queries computes its distance block vectorized in numpy
    (``mapInPandas``), emitting only the per-query top-k — the O(n²)
    pair relation is never materialized and no shuffle carries it;
    more than one block adds a per-query merge window. One Gram
    matmul screens the candidates and only the survivors
    (about k per query) are recomputed dimension-by-dimension in
    float64, so reported distances are bit-identical to a sequential
    fold over ``(a_i − b_i)²`` (matching both the HOF formulation and
    the DuckDB oracle) and rankings are reproducible across tiers and
    engines (:func:`_topk_chunk` proves the screen loses no neighbor).

    LSH tier duplicate hardening: real corpora contain duplicate and
    near-duplicate embeddings at scale (reposts, boilerplate, jittered
    re-encodes), and a 10-way duplicate clique lands its full clique in
    EVERY band's bucket — the verify stage then pays
    n_queries × n_bands × bucket_occupancy even though the clique holds
    one effective vector (measured: 10-way near-dup replicas at a 20k
    base pushed the un-collapsed plan past 9 minutes). Both sides are
    therefore collapsed to one representative per LSH SIGNATURE — the
    concatenation of ALL band keys — BEFORE banding. Vectors sharing
    every band key are indistinguishable to the banding (identical
    candidate sets by construction), so searching one representative
    per signature is lossless at the candidate level; exact duplicates
    share signatures trivially. The band join, hot-bucket cap, and
    first distance verify all run on representatives; the per-query
    shortlist keeps ``rank() <= k+1`` representative groups ordered by
    the ROUNDED representative distance alone (ties keep whole groups;
    the +1 absorbs one self-exclusion); results fan back out to group
    members through two equi-joins and TRUE distances are then
    recomputed on the fanned pairs — so reported distances are always
    exact, and for bit-identical duplicates the output equals the
    exact tier's (members are interchangeable and the ascending-``dst``
    tiebreak picks the same ids). The approximation added on top of
    LSH's own: a member's neighbor is found only if its group's
    REPRESENTATIVE ranks in the query group's top-(k+1) — an error
    bounded by the intra-signature diameter, which the bucket geometry
    keeps at the bucket-length scale. Base-side groups are capped at
    ``max(k+1, 32)`` ascending-id members (provably sufficient for
    exact duplicates, a documented recall/cost cap for near ones), so
    fan-out is bounded at (k+1)·max(k+1, 32) pairs per query — the
    degenerate all-near-identical corpus stays linear.

    ``candidate_budget`` (measured-precondition guard, the
    ``prefix_jaccard_pairs`` house pattern): before materializing the
    candidate join, its exact size Σ_{(band,key)} |Q_bucket|·|B_bucket|
    is computed with one counts-join aggregate. An UNCLUSTERED
    (iid-ish) corpus saturates the auto-sized buckets — measured at a
    20k rotated-replica corpus: every bucket at the 1024 cap, 2×10⁸
    candidate pairs each carrying both embeddings ≈ a 100 GB shuffle
    that exhausted a 250 GB disk — so the tier now fails fast with the
    measured number and points at the exact tiers (right through 10⁶
    rows) and IVF routing (the iid-regime ANN path) instead of
    spilling for minutes first. Near-dup-clustered corpora — the
    regime this tier exists for — collapse to few representatives and
    pass the same budget easily.
    """
    if exact:
        return exact_knn(queries, base, k, exclude_self)

    from pyspark.ml.functions import vector_to_array

    q = queries.select(F.col("vec_id").alias("src"), F.col("embedding").alias("q_emb"))
    b = base.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("b_emb"))
    keep = k + 1 if exclude_self else k

    rows_per_band = 2  # AND-amplification width within a band
    n_proj = num_hash_tables * rows_per_band
    qv = _with_features(q, "q_emb")
    bv = _with_features(b, "b_emb")
    model = _fit_lsh(bv, bucket_length, n_proj)

    def hashed(df: DataFrame) -> DataFrame:
        buckets = [
            vector_to_array(F.element_at("hashes", i + 1))[0]
            .cast("long")
            .cast("string")
            for i in range(n_proj)
        ]
        return model.transform(df).withColumn("_sig", F.concat_ws("|", *buckets))

    # signature collapse (see docstring): rep = min id per signature;
    # member maps carry embeddings so true distances can be recomputed
    # after fan-out. The query-side map is NEVER capped (every query
    # must produce output); the base side caps at max(keep, 32).
    bt = hashed(bv).withColumn(
        "_rep", F.min("dst").over(Window.partitionBy("_sig"))
    ).withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_sig").orderBy("dst"))
    )
    breps = bt.filter(F.col("_rn") == 1).select("dst", "b_emb", "hashes")
    bmembers = bt.filter(F.col("_rn") <= max(keep, MAX_SIGNATURE_MEMBERS)).select(
        F.col("_rep").alias("_bm_rep"),
        F.col("dst").alias("_bm_dst"),
        F.col("b_emb").alias("_bm_emb"),
    )
    qt = hashed(qv).withColumn(
        "_rep", F.min("src").over(Window.partitionBy("_sig"))
    )
    qreps = qt.filter(F.col("src") == F.col("_rep")).select(
        "src", "q_emb", "hashes"
    )
    qmembers = qt.select(
        F.col("_rep").alias("_qm_rep"),
        F.col("src").alias("_qm_src"),
        F.col("q_emb").alias("_qm_emb"),
    )

    pairs = _lsh_candidates(
        qreps, breps, num_hash_tables, rows_per_band, candidate_budget
    )
    pairs = pairs.withColumn("dist_sq", squared_euclidean("q_emb", "b_emb"))
    # representative shortlist — rank() over the rounded distance alone
    # keeps whole tied groups at the cut (see docstring)
    w_rep = Window.partitionBy("src").orderBy(
        F.round(F.col("dist_sq"), _RANK_DECIMALS).asc()
    )
    short = (
        pairs.withColumn("_rk", F.rank().over(w_rep))
        .filter(F.col("_rk") <= keep)
        .select(F.col("src").alias("_rep_src"), F.col("dst").alias("_rep_dst"))
    )
    fanned = (
        short.join(bmembers, F.col("_rep_dst") == F.col("_bm_rep"))
        .join(qmembers, F.col("_rep_src") == F.col("_qm_rep"))
        .select(
            F.col("_qm_src").alias("src"),
            F.col("_bm_dst").alias("dst"),
            squared_euclidean("_qm_emb", "_bm_emb").alias("dist_sq"),
        )
    )
    if exclude_self:
        fanned = fanned.filter(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src").orderBy(
        F.round(F.col("dist_sq"), _RANK_DECIMALS).asc(), F.col("dst").asc()
    )
    return (
        fanned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src",
            "dst",
            F.sqrt("dist_sq").alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: base-side signature groups fan out at most this many ascending-id
#: members (≥ k+1 is provably sufficient for bit-identical duplicates;
#: for near-duplicate groups it is a recall/cost cap, mirroring the
#: hot-bucket cap's philosophy of down-sampling, never blinding).
MAX_SIGNATURE_MEMBERS = 32


#: above this many base rows the exact tier switches to blocked mode
#: (the whole base would not fit in one driver collect + broadcast).
MAX_BROADCAST_ROWS = 200_000

#: above this many base rows the exact tier (even blocked — O(n²)
#: distance work regardless of memory) stops being the right plan and
#: auto-tiering switches to the LSH candidate path.
MAX_EXACT_BASE_ROWS = 1_000_000


def probe_collect(base: DataFrame) -> list | None:
    """Single-action tier probe shared by the broadcast-capped
    operators: collect the base bounded to ``MAX_BROADCAST_ROWS + 1``
    rows. Returns the row list when the base fits the broadcast budget
    (the caller proceeds with zero further actions — the separate
    ``count()`` the old dispatch paid is folded into this collect),
    else ``None`` (the caller counts and takes a scale tier). Driver
    memory is bounded by the limit either way."""
    rows = base.limit(MAX_BROADCAST_ROWS + 1).collect()
    return rows if len(rows) <= MAX_BROADCAST_ROWS else None


def blocked_topk(
    base: DataFrame,
    block_fn,
    schema: str,
    n_base: int | None = None,
    rows: list | None = None,
) -> tuple[DataFrame, int]:
    """The one tier driver of the four brute-force top-k scorers:
    :func:`exact_knn` here, and ``cosine_topk``, ``sq_topk`` and
    ``pq_topk`` in ``similarity``.

    Sizes the base from the caller's probed ``rows``, else ``n_base``,
    else its own :func:`probe_collect` falling back to a ``count()``,
    and calls ``block_fn(block, block_rows, n_blocks)`` once per
    broadcastable block: on the whole base with the probed rows (or
    ``None``) while it fits ``MAX_BROADCAST_ROWS`` — broadcast is the
    one-block case — else on ``ceil(n / MAX_BROADCAST_ROWS)`` disjoint
    ``pmod(vec_id, n_blocks)`` slices with ``None``, unioning their
    outputs, so driver memory stays bounded by one block. Returns the
    output and the block count; the caller merges the block-local
    top-ks (the global top-k is a subset of their union). An empty
    base yields an empty ``schema`` frame and 0 blocks, and
    ``block_fn`` never runs.
    """
    if rows is None and n_base is None:
        rows = probe_collect(base.select("vec_id", "embedding"))
        if rows is None:
            n_base = base.count()
    if rows is not None:
        n_base = len(rows)
    if n_base == 0:
        return base.sparkSession.createDataFrame([], schema=schema), 0
    n_blocks = -(-n_base // MAX_BROADCAST_ROWS)
    if n_blocks == 1:
        return block_fn(base, rows, 1), 1
    block_col = F.pmod(F.col("vec_id"), F.lit(n_blocks))
    parts = [
        block_fn(base.filter(block_col == b), None, n_blocks)
        for b in range(n_blocks)
    ]
    return reduce(DataFrame.unionByName, parts), n_blocks


def sorted_base(base: DataFrame, *cols: str, rows: list | None = None) -> tuple:
    """Driver-side preamble of every broadcast block: the base's
    ``(vec_id, *cols)`` rows — ``rows`` when the caller already probed
    them, else one collect — as an id-ascending int64 id array followed
    by one float64 matrix per column (``cols`` defaults to
    ``embedding``)."""
    import numpy as np

    cols = cols or ("embedding",)
    if rows is None:
        rows = base.select("vec_id", *cols).collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    mats = (np.array([r[c] for r in rows], dtype=np.float64)[order] for c in cols)
    return (ids[order], *mats)


def exact_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    exclude_self: bool = True,
    n_base: int | None = None,
    rows: list | None = None,
) -> DataFrame:
    """Exact kNN through :func:`blocked_topk`: each block runs the
    screened kernel :func:`_topk_chunk` under :func:`broadcast_topk`.
    One block (the base fits ``MAX_BROADCAST_ROWS``) is the answer
    as is; past it the block-local top-ks carry ``dist_sq`` and a
    per-query window re-ranks them by the same ``(round(dist_sq, 6),
    dst)`` key — bit-identical output at any block count. ``rows`` are
    the base's probed ``(vec_id, embedding)`` rows, when the caller
    already holds them.
    """

    def block(blk, blk_rows, n_blocks):
        chunk_fn, col = (
            (_topk_dist_chunk, "dist") if n_blocks == 1 else (_topk_chunk, "dist_sq")
        )
        return broadcast_topk(queries, blk, blk_rows, chunk_fn, k, exclude_self, col)

    out, n_blocks = blocked_topk(
        base, block, "src long, dst long, dist double, rank int", n_base, rows
    )
    if n_blocks <= 1:
        return out
    w = Window.partitionBy("src").orderBy(
        F.round(F.col("dist_sq"), _RANK_DECIMALS).asc(), F.col("dst").asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src",
            "dst",
            F.sqrt("dist_sq").alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def broadcast_topk(
    queries: DataFrame,
    base: DataFrame,
    rows: list | None,
    chunk_fn,
    k: int,
    exclude_self: bool,
    col: str,
) -> DataFrame:
    """One broadcast block of the exact scorers (L2 and cosine): the
    id-sorted block (:func:`sorted_base`) is broadcast and
    ``mapInPandas`` runs ``chunk_fn(q_ids, Q, b_ids, b_X, kk,
    exclude_self)`` over every query Arrow batch, returning flat
    ``(src, dst, <col>, rank)`` arrays. ``kk`` caps at the block size;
    self-hits are masked per row, so a query absent from the base
    still gets all min(k, n) neighbors.

    Scale notes: the probe side is repartitioned so a single-file scan
    still uses every core, and each batch runs in chunks of at most
    2e7 (chunk, n) cells — 0.16 GB per float64 buffer per task,
    regardless of Arrow batch size.
    """
    import numpy as np
    import pandas as pd

    sess = queries.sparkSession
    ids, X = sorted_base(base, rows=rows)
    bc = sess.sparkContext.broadcast((ids, X))
    kk = min(k, len(ids))
    schema = f"src long, dst long, {col} double, rank int"

    def topk(batches):
        b_ids, b_X = bc.value
        chunk = max(1, int(2e7 // max(len(b_ids), 1)))
        for pdf in batches:
            all_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            all_Q = np.array(list(pdf["embedding"]), dtype=np.float64)
            for s in range(0, len(all_ids), chunk):
                out = chunk_fn(
                    all_ids[s : s + chunk], all_Q[s : s + chunk], b_ids, b_X,
                    kk, exclude_self,
                )
                yield pd.DataFrame(dict(zip(("src", "dst", col, "rank"), out)))

    nparts = sess.sparkContext.defaultParallelism
    return queries.select("vec_id", "embedding").repartition(nparts).mapInPandas(
        topk, schema=schema
    )


def _topk_dist_chunk(q_ids, Q, b_ids, b_X, kk: int, exclude_self: bool):
    """:func:`_topk_chunk` reporting the distance instead of its
    square — the single-block output needs no merge key."""
    import numpy as np

    src, dst, d2, rank = _topk_chunk(q_ids, Q, b_ids, b_X, kk, exclude_self)
    return src, dst, np.sqrt(d2), rank


def _topk_chunk(q_ids, Q, b_ids, b_X, kk: int, exclude_self: bool):
    """Screen-then-refine exact top-kk of a query chunk against the
    id-sorted base. Returns flat ``(src, dst, dist_sq, rank)`` arrays
    equal, bit for bit, to the sequential float64 fold
    ``f = Σ_i (q_i − b_i)²`` over every pair followed by a per-row
    ``lexsort((ids, round(f, 6)))``; self-hits and non-finite keys sort
    last and are dropped, so ranks stay contiguous.

    1. Screen: one Gram matmul gives ``g = |q|² + |b|² − 2·q·b``;
       self-hits and NaN become +inf.
    2. Keep ``g ≤ T + 2δ + 2·10⁻⁶`` (T the row's kk-th smallest g; the
       whole row when that bound is not finite).
    3. Refine the survivors (about kk per row) with the fold, in a
       padded (m × c) block.
    4. Select the top kk with one ``lexsort`` along rows.

    Why no neighbor is screened out. With ``u = 2⁻⁵³``,
    ``γ_k = k·u/(1 − k·u)``, exact ``D = |q − b|²`` and
    ``S = |q|² + max_j |b_j|² ≥ D/2`` (inputs are exact float64):
    the fold rounds each term at most d + 2 times, so
    ``|f − D| ≤ γ_{d+2}·D ≤ 2γ_{d+2}·S``; the three Gram dot products
    (any BLAS order) err by ``γ_d`` times Σ|q_i·b_i| ≤ S/2, |q|² and
    |b|², and the two additions round values below 2S, so
    ``|g − D| ≤ 2γ_d·S + 4u·S ≤ 2γ_{d+2}·S``. Hence
    ``|g − f| ≤ 4γ_{d+2}·S``. The kk smallest g all have
    ``f ≤ T + 4γ_{d+2}·S``, so every true neighbor j has f at most that
    or ties it after ``round(·, 6)``, which merges values less than
    ``10⁻⁶ + 8u·S`` apart: ``g_j ≤ T + 8γ_{d+2}·S + 8u·S + 10⁻⁶``.
    Evaluating the threshold in floats costs under 8u·S more, so
    ``δ = 4γ_{d+4}·S`` (``2δ ≥ 8γ_{d+2}·S + 16u·S``) suffices, the
    second 10⁻⁶ absorbing O(u²·S) terms.
    """
    import numpy as np

    m, d = Q.shape
    b_norms = (b_X * b_X).sum(axis=1)
    finite = b_norms[np.isfinite(b_norms)]
    q_norms = (Q * Q).sum(axis=1)
    g = Q @ b_X.T
    g *= -2.0
    g += q_norms[:, None]
    g += b_norms[None, :]
    g[np.isnan(g)] = np.inf
    if exclude_self:
        g[q_ids[:, None] == b_ids[None, :]] = np.inf
    T = np.partition(g, kk - 1, axis=1)[:, kk - 1]
    gamma = (d + 4) * 2.0**-53 / (1 - (d + 4) * 2.0**-53)
    S = q_norms + (finite.max() if finite.size else 0.0)
    thr = T + 8 * gamma * S + 2e-6
    thr[~np.isfinite(thr)] = np.inf
    keep = g <= thr[:, None]
    del g
    # padded survivor block: unfilled slots keep an inf key, sort last
    # and are dropped with the self-hits
    counts = keep.sum(axis=1)
    r_idx, c_idx = np.nonzero(keep)
    slot = np.arange(len(r_idx)) - np.repeat(np.cumsum(counts) - counts, counts)
    idx = np.zeros((m, int(counts.max())), dtype=np.int64)
    idx[r_idx, slot] = c_idx
    acc = np.zeros(idx.shape, dtype=np.float64)
    for i in range(d):  # the fold, dimension by dimension
        diff = Q[:, i][:, None] - b_X[:, i][idx]
        diff *= diff
        acc += diff
    dst = b_ids[idx]
    key = np.full(idx.shape, np.inf)
    key[r_idx, slot] = np.round(acc[r_idx, slot], _RANK_DECIMALS)
    if exclude_self:
        key[dst == q_ids[:, None]] = np.inf
    sel = np.lexsort((dst, key), axis=1)[:, :kk]
    ok = np.isfinite(np.take_along_axis(key, sel, axis=1).ravel())
    return (
        np.repeat(q_ids, kk)[ok],
        np.take_along_axis(dst, sel, axis=1).ravel()[ok],
        np.take_along_axis(acc, sel, axis=1).ravel()[ok],
        np.tile(np.arange(1, kk + 1, dtype=np.int32), m)[ok],
    )


def _with_features(df: DataFrame, emb_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(
        "features", array_to_vector(F.col(emb_col).cast("array<double>"))
    )


def _fit_lsh(bv: DataFrame, bucket_length: float | None, n_proj: int):
    """Fit the random-hyperplane model (public MLlib
    ``BucketedRandomProjectionLSH``) over a base with a ``features``
    vector column.

    ``bucket_length=None`` sizes buckets from the data:
    ``2 · median_norm / √d`` ≈ two standard deviations of a single
    random projection. A fixed length mis-sized for the data collapses
    every vector into one bucket (candidate explosion) or shatters
    true neighbors apart — note that since bands AND two projections
    together, a fixed ``bucket_length`` tuned for a single-hash OR
    scheme must be retuned (per-band collision is p² here, not p).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    from ..functions.distance import norm

    if bucket_length is None:
        # a single random projection of x has std ≈ |x|/√d; size the
        # bucket to a couple of projection-stds so buckets discriminate
        # (a fixed large length collapses everything into bucket 0 →
        # O(n²) candidates; measured at 50k rows)
        row0 = bv.select(
            F.percentile_approx(norm("b_emb"), 0.5).alias("m"),
            F.max(F.size("b_emb")).alias("d"),
        ).head()
        if row0 is None or row0["m"] is None:  # empty base
            bucket_length = 1.0
        else:
            bucket_length = max(
                2.0 * float(row0["m"]) / (float(row0["d"]) ** 0.5), 1e-6
            )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=n_proj,
        seed=42,
    )
    return lsh.fit(bv)


def _lsh_candidates(
    q: DataFrame,
    b: DataFrame,
    num_hash_tables: int,
    rows_per_band: int,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Candidate pairs from pre-hashed (signature-collapsed) sides —
    inputs carry ``hashes`` from the fitted model. Returns
    (src, q_emb, dst, b_emb).

    Band count sets the recall/cost point: measured k=5 recall vs the
    exact tier on the sf0.01 fixture is 0.64 at 3 bands, 0.88 at 6,
    0.97 at 10 (the default); candidate volume grows linearly in
    bands and stays bounded by the hot-bucket cap below.

    Shuffle-width note: the band relations carry IDS ONLY — a banded
    row is (id, band, key), never the embedding. The 10-band explode
    replicates every row tenfold, so carrying the 64-float arrays
    through it (the original formulation) shuffled ~65× more bytes
    than the keys need; embeddings are re-attached to the DEDUPED
    (src, dst) candidate pairs afterwards with two narrow hash joins
    against the representative tables. Measured 1.19× end-to-end on
    the 20k near-dup-clique corpus (28.3 s → 23.7 s) — modest there
    because signature collapse has already shrunk the banded relation;
    the width saving scales with representative count, i.e. exactly
    the corpora where the banding shuffle dominates.
    """
    from pyspark.ml.functions import vector_to_array

    def banded(df: DataFrame, id_col: str) -> DataFrame:
        # compound key per band: concat of rows_per_band bucket ids
        # (AND within a band → selectivity; OR across bands → recall)
        buckets = [
            vector_to_array(F.element_at("hashes", i + 1))[0].cast("long").cast("string")
            for i in range(num_hash_tables * rows_per_band)
        ]
        bands = F.array(
            *[
                F.struct(
                    F.lit(t).alias("band"),
                    F.concat_ws(
                        "_", *buckets[t * rows_per_band : (t + 1) * rows_per_band]
                    ).alias("key"),
                )
                for t in range(num_hash_tables)
            ]
        )
        return df.select(id_col, F.explode(bands).alias("bb")).select(
            id_col, "bb.band", "bb.key"
        )

    qh = banded(q, "src")
    bh = banded(b, "dst").persist()  # consumed twice below

    # hot-bucket capping: a (band, key) shared by more than
    # max_bucket_size base rows is non-discriminative (skewed data,
    # duplicate clusters) and would quadratically blow up the candidate
    # join. Rather than dropping the key (which would blind queries
    # inside a dense/duplicate cluster — such clusters are hot in
    # EVERY band), the base side is down-sampled to the cap by a keyed
    # hash rank: dense-cluster queries still see up to
    # ``max_bucket_size`` representatives. Candidates are bounded at
    # n_bands · n_queries · max_bucket_size.
    max_bucket_size = 1024
    w_cap = Window.partitionBy("band", "key").orderBy(
        hash60(F.concat_ws("_", F.lit("cap"), F.col("dst"))), F.col("dst")
    )
    bh = (
        bh.withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= max_bucket_size)
        .drop("_rn")
    )
    if candidate_budget is not None:
        # exact candidate count from per-bucket tallies — one cheap
        # counts-join aggregate BEFORE the embedding-carrying join
        # (see knn_join docstring: measured 100 GB spill when an
        # iid-ish corpus saturates every bucket at the cap)
        qc = qh.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_qn"))
        bc = bh.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_bn"))
        bound = (
            qc.join(bc, on=["band", "key"])
            .agg(F.sum(F.col("_qn") * F.col("_bn")))
            .first()[0]
            or 0
        )
        if bound > candidate_budget:
            raise ValueError(
                f"LSH kNN candidate volume {bound:,} exceeds the budget "
                f"{candidate_budget:,}: the banded buckets are "
                "non-discriminative for this corpus (unclustered/iid "
                "embeddings saturate the bucket cap). Use the exact "
                "tiers (knn_join(exact=True) — right through ~10^6 "
                "rows) or IVF routing (operators.similarity.ivf_*) "
                "for this regime; candidate_budget=None overrides."
            )
    pairs = (
        qh.join(bh, on=["band", "key"], how="inner")
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    # re-attach embeddings to the deduped pairs (narrow joins against
    # the representative tables — see the shuffle-width note above)
    return pairs.join(
        q.select("src", "q_emb"), on="src"
    ).join(b.select("dst", "b_emb"), on="dst")


def knn_edges(emb: DataFrame, k: int, exact: bool | None = None) -> DataFrame:
    """The kNN-edges table standing in for the HNSW level-0 graph
    (SURVEY §1: ``-1`` slot padding disappears — F1 is a no-op).

    ``exact=None`` (default) picks the tier from the collection size:
    exact (broadcast or blocked) up to ``MAX_EXACT_BASE_ROWS``, LSH
    beyond — so the same call site is correct at fixture scale and
    survives a 100× scale-up without a driver-bound O(n²) plan. Pass
    ``exact=True``/``False`` to pin a tier.
    """
    e = emb.select("vec_id", "embedding")
    if exact is None:
        rows = probe_collect(e)
        n = len(rows) if rows is not None else e.count()
        if n <= MAX_EXACT_BASE_ROWS:
            return exact_knn(e, e, k, exclude_self=True, n_base=n, rows=rows)
        exact = False
    return knn_join(e, e, k=k, exact=exact, exclude_self=True)


def query_counts(edges: DataFrame, emb: DataFrame) -> DataFrame:
    """A3: how often each vector appears in other vectors' top-k
    (``watermarking.py:302-308``; self-hits already excluded by the
    edges table). Vectors never hit get count 0 (left join + coalesce),
    which F2 (never-searched filter, ``t_vector/e1:39``) relies on.
    """
    counts = edges.groupBy(F.col("dst").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("query_count")
    )
    return (
        emb.select("vec_id")
        .join(counts, on="vec_id", how="left")
        .withColumn("query_count", F.coalesce(F.col("query_count"), F.lit(0)).cast("long"))
    )
