"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline (per-query candidate
scan); the LSH-bucketed variant is the scale path — random-hyperplane
signatures shrink the candidate set so the pairwise work is per-bucket,
not O(n²). Both are pure Catalyst higher-order-function pipelines (no
UDF, no Python crossing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import dot, hyperplane_sig, unit

# Fixed pseudo-random hyperplanes (LCG, seed=7) for deterministic LSH
# signatures; regenerate with more planes for tighter buckets.
def _planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    out, x = [], seed
    vals = []
    for _ in range(n_planes * dim):
        x = (1_103_515_245 * x + 12_345) % (2**31)
        vals.append((x / (2**31)) * 2.0 - 1.0)
    for i in range(n_planes):
        out.append(vals[i * dim : (i + 1) * dim])
    return out


def cosine_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the
    candidate corpus, rank per query. The corpus side never shuffles
    until the per-query top-k aggregation — with a broadcast query set
    this is a single scan + partial top-k (window on q_id).

    Vectors are L2-normalized ONCE PER ROW on each side (``unit``), so
    the per-pair work is a single dot product — ``cosine()`` per pair
    would re-evaluate both norms for every (query, candidate) pair
    (and twice over, via its ANSI zero-guard ``when`` branch)."""
    from pyspark.sql.window import Window

    q = queries_df.select(
        F.col(id_col).alias("q_id"), unit(F.col(vec_col)).alias("q_vec")
    )
    c = candidates_df.select(
        F.col(id_col).alias("cand_id"), unit(F.col(vec_col)).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id", dot(F.col("q_vec"), F.col("c_vec")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "cand_id")
    )


def knn_classify(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    label_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact kNN majority-vote classification: top-k cosine neighbors
    per query vector, predicted label = the most frequent neighbor
    label (ties break to the smaller label — deterministic). Same
    broadcast-query-set plan as ``cosine_topk``: one corpus scan, one
    window, then a per-query vote aggregation over ≤ k rows. Both
    sides pre-normalized per row (``unit``) → per-pair cost is one
    dot product."""
    from pyspark.sql.window import Window

    q = queries_df.select(
        F.col(id_col).alias("q_id"), unit(F.col(vec_col)).alias("q_vec")
    )
    c = candidates_df.select(
        F.col(id_col).alias("cand_id"),
        unit(F.col(vec_col)).alias("c_vec"),
        F.col(label_col).alias("__lbl"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("cand_id"))
        .select(
            "q_id", "cand_id", "__lbl",
            dot(F.col("q_vec"), F.col("c_vec")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    votes = topk.groupBy("q_id", "__lbl").agg(F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("__lbl"))
    return (
        votes.withColumn("vrn", F.row_number().over(wv))
        .filter(F.col("vrn") == 1)
        .select("q_id", F.col("__lbl").alias("pred_label"), "votes")
    )


def cosine_pairs_above(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    block_size: int = 1024,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup) — exact,
    block-partitioned matrix multiply.

    The naive cross join evaluates an interpreted higher-order-function
    cosine per pair (O(n²·d) lambda calls — measured 50s for 5000
    vectors). Instead: split rows into B blocks, ship each block PAIR
    to one task, and let numpy/BLAS do the (block × block) gram matrix
    inside ``applyInPandas``. Data movement is O(n·B) rows, compute is
    the same O(n²·d) flops but at matrix-multiply speed; each task is
    block_size² — sized to executor memory. This is the standard exact
    all-pairs shape at 100 TB (with LSH/IVF as the approximate path
    when even that is too much).
    """
    import pandas as pd

    # block assignment must survive sparse/hashed/negative ids: derive
    # the block count from the ROW count (not max id — a 2^32-range id
    # space would mean a ~10^13-cell driver grid) and spread ids with
    # pmod (never negative). Block occupancy is ~block_size in
    # expectation for any id distribution; exactness is unaffected
    # (every block pair still meets exactly once).
    n = df.count()
    if n == 0:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long")
    n_blocks = max(1, -(-n // block_size))
    rows = df.select(
        F.col(id_col).alias("rid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("block"),
    )
    grid = df.sparkSession.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)], "bi int, bj int"
    )
    # each row joins every grid cell its block participates in
    left = rows.join(grid, rows["block"] == grid["bi"]).select(
        "bi", "bj", F.col("rid").alias("id"), "vec", F.lit(0).alias("side")
    )
    right = rows.join(grid, rows["block"] == grid["bj"]).select(
        "bi", "bj", F.col("rid").alias("id"), "vec", F.lit(1).alias("side")
    )
    both = left.unionByName(right)

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        a = pdf[pdf["side"] == 0].drop_duplicates("id")
        b = pdf[pdf["side"] == 1].drop_duplicates("id")
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ma = np.stack(a["vec"].to_numpy()).astype("float64")
        mb = np.stack(b["vec"].to_numpy()).astype("float64")
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia, ib = np.nonzero(sims >= threshold)
        ids_a = a["id"].to_numpy()[ia]
        ids_b = b["id"].to_numpy()[ib]
        if bi == bj:
            # diagonal cell: both sides hold the same block, every pair
            # appears twice (plus self-pairs) — keep one orientation
            keep = ids_a < ids_b
            return pd.DataFrame({"id_a": ids_a[keep], "id_b": ids_b[keep]})
        # off-diagonal cell: sides hold DISJOINT blocks, each pair
        # appears exactly once, but with pmod blocking the smaller id
        # may sit on either side — emit (min, max), never filter.
        # (Filtering ids_a < ids_b here silently dropped ~half of all
        # cross-block pairs whenever the lower id hashed to the
        # higher-numbered block.)
        return pd.DataFrame(
            {
                "id_a": np.minimum(ids_a, ids_b),
                "id_b": np.maximum(ids_a, ids_b),
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(_block_pairs, "id_a long, id_b long")


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | None = 8,
    threshold: float = 0.45,
) -> DataFrame:
    """Approximate near-dup pairs: random-hyperplane LSH buckets, then
    exact cosine verify within buckets only. The join key is the
    signature → work is per-bucket (expected n²/2^planes).

    Each side is L2-normalized once per ROW before the bucket join, so
    the per-pair verify is a single dot product — the norms are paid n
    times, not E[n²/2^planes] times (the round-4 ``sem_dedup`` bench
    regression was exactly the per-pair ``cosine()`` shape).

    ``n_planes=None`` derives the plane count from a corpus count via
    :func:`auto_planes` so the default pair budget stays bounded as
    the corpus grows (same contract as :func:`semdedup`)."""
    if n_planes is None:
        n_planes = auto_planes(df.count())
    planes = _planes(n_planes, dim)
    sig = df.select(
        F.col(id_col),
        unit(F.col(vec_col)).alias("__un"),
        hyperplane_sig(F.col(vec_col), planes).alias("sig"),
    )
    a = sig.select(F.col(id_col).alias("id_a"), F.col("__un").alias("u_a"), "sig")
    b = sig.select(F.col(id_col).alias("id_b"), F.col("__un").alias("u_b"), "sig")
    return (
        a.join(b, "sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot(F.col("u_a"), F.col("u_b")) >= threshold)
        .select("id_a", "id_b")
    )


def auto_planes(n: int, base_planes: int = 5, base_n: int = 500) -> int:
    """Plane count that holds SemDeDup cell occupancy ~flat as the
    corpus grows: +4 planes per 10× rows over the (base_n, base_planes)
    reference point — SCALING.md's measured rule. In-cell pair work is
    E[n²/2^planes]; 10× rows at fixed planes is 100× pairs, while +4
    planes cuts 16× back, keeping per-cell occupancy slightly BELOW the
    reference as the corpus grows."""
    import math

    if n <= base_n:
        return base_planes
    return base_planes + math.ceil(4 * math.log10(n / base_n))


def auto_cells(n: int, rows_per_cell: int = 1000, min_k: int = 8) -> int:
    """k for the k-means SemDeDup form targeting ``rows_per_cell``
    expected occupancy — the paper's knob expressed as a corpus-derived
    default instead of a hand-picked constant."""
    return max(min_k, -(-n // rows_per_cell))


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | None = 5,
    threshold: float = 0.40,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, with LSH cells
    standing in for k-means clusters): partition the corpus into
    deterministic random-hyperplane cells, compute exact cosine only
    WITHIN each cell, and greedily drop every vector that duplicates
    (cosine ≥ threshold) a lower-id vector in its cell.

    Returns (id, cell, kept) for every input row. The greedy keep-min-id
    rule makes the result order-independent and oracle-reproducible
    (no iterative clustering state).

    Scale shape: signature assignment is one narrow map; the in-cell
    pair join shuffles on the cell key with expected n²/2^planes pair
    work per cell; the final anti-join marks survivors. Identical to
    production SemDeDup except cells come from fixed hyperplanes, so no
    k-means fitting pass is needed (and the oracle can replay them).

    ``n_planes=None`` derives the plane count from a cheap corpus
    count via :func:`auto_planes` (+4 planes per 10× rows), so the
    default in-cell pair budget stays bounded as the corpus grows
    instead of silently exploding at fixed planes. Pass an explicit
    int for oracle-replayable runs.
    """
    if n_planes is None:
        n_planes = auto_planes(df.count())
    planes = _planes(n_planes, dim)
    sig = df.select(
        F.col(id_col).alias("id"),
        unit(F.col(vec_col)).alias("__un"),
        hyperplane_sig(F.col(vec_col), planes).alias("cell"),
    )
    a = sig.select(F.col("id").alias("id_a"), F.col("__un").alias("u_a"), "cell")
    b = sig.select(F.col("id").alias("id_b"), F.col("__un").alias("u_b"), "cell")
    dup_pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot(F.col("u_a"), F.col("u_b")) >= threshold)
        .select(F.col("id_b").alias("dropped_id"))
        .distinct()
    )
    return (
        sig.join(dup_pairs, sig["id"] == dup_pairs["dropped_id"], "left")
        .select(
            "id",
            "cell",
            F.col("dropped_id").isNull().alias("kept"),
        )
    )


def semdedup_incremental(
    df: DataFrame,
    new_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | None = 5,
    threshold: float = 0.40,
) -> DataFrame:
    """Micro-batch SemDeDup: decide kept/dropped for the NEW vectors
    only (``new_col`` boolean), comparing each new vector against its
    hyperplane cell-mates — corpus members (already-kept state, any
    id) and lower-id batch-mates — never corpus×corpus. The embedding
    twin of `dedup.minhash_lsh_incremental`: per-batch cost is
    O(batch · cell occupancy) regardless of corpus size, the shape a
    streaming embedding-ingest pipeline needs. Returns (id, cell,
    kept) for new rows. Pre-normalized per row; pair work is plain
    dot products."""
    if n_planes is None:
        n_planes = auto_planes(df.count())
    planes = _planes(n_planes, dim)
    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(new_col).alias("__new"),
        unit(F.col(vec_col)).alias("__un"),
        hyperplane_sig(F.col(vec_col), planes).alias("cell"),
    )
    new = sig.filter(F.col("__new"))
    e = sig.select(
        F.col("id").alias("e_id"), F.col("__new").alias("e_new"),
        F.col("__un").alias("e_un"), "cell",
    )
    n = new.select(
        F.col("id").alias("n_id"), F.col("__un").alias("n_un"), "cell"
    )
    dropped = (
        e.join(n, "cell")
        .filter(F.col("e_id") != F.col("n_id"))
        .filter(~F.col("e_new") | (F.col("e_id") < F.col("n_id")))
        .filter(dot(F.col("e_un"), F.col("n_un")) >= threshold)
        .select(F.col("n_id").alias("dropped_id"))
        .distinct()
    )
    return new.join(
        dropped, new["id"] == dropped["dropped_id"], "left"
    ).select("id", "cell", F.col("dropped_id").isNull().alias("kept"))


#: seed-rank strategy threshold: up to this k the trainer builds the
#: id→cell rank map from one O(k) driver collect inlined as a map
#: literal (measured fastest, SCALING.md seed-rank row); above it, the
#: fully-distributed k²-pair self-join takes over. 4096 keeps the map
#: literal well under expression-tree limits while covering every
#: realistic IVF/PQ codebook size.
SEED_RANK_COLLECT_MAX = 4096


def _pack_centroids(cent: DataFrame, cell_col: str = "cell", vec_col: str = "__c") -> DataFrame:
    """Collapse a (cell, vector) centroid frame into ONE row holding the
    sorted array of (cell, c) structs — the broadcast payload for the
    map-side packed argmin (round-13 optimization). ``sort_array`` makes
    the packing deterministic regardless of partitioning; sorting by the
    struct sorts by cell id first, and cell ids are unique."""
    return cent.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(cell_col).alias("cell"), F.col(vec_col).alias("c"))
            )
        ).alias("__cents")
    )


def _packed_argmin(vec: "F.Column", cents: "F.Column") -> "F.Column":
    """Nearest-centroid id from a packed (cell, c) struct array: squared
    L2 per centroid, ties to the LOWER cell id — ``array_min`` over
    (d, cell) structs is the same lexicographic ordering as the
    ``F.min(F.struct(d, cell))`` aggregation it replaces, so results are
    bit-identical while the crossJoin + groupBy(id) exchange disappears
    (guide §2.4: the argmin is a pure per-row function of the broadcast
    centroid set; shuffling rows to recombine k distance copies per id
    was pure overhead)."""
    return F.array_min(
        F.transform(
            cents,
            lambda s: F.struct(
                F.aggregate(
                    F.zip_with(vec, s["c"], lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                s["cell"].alias("cell"),
            ),
        )
    )["cell"]


def kmeans_fit_predict(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column, returning
    (id, cell) after ``iters`` assignment/update rounds.

    Engine-portable determinism: init centroids are the k lowest-id
    vectors; each new centroid coordinate is round(sum, 6)/count (the
    float-determinism policy — the rounded sum is exact at 1e-6 for
    ~1e-8-grain float inputs, so every engine computes identical
    centroids, identical distances, identical argmins; ties break to
    the lower cell id). This is the trainer behind a real IVF index
    (`sim_ivf_topk` probes cells); `semdedup` swaps its hyperplane
    cells for these centroids to match the paper exactly.

    Scale shape per round: one broadcast of k centroids (tiny), one
    scan computing argmin per row (k·dim flops, map-only), one
    partial-agg shuffle on (cell, dim) for the means. Rounds are a
    driver loop over DataFrames — lineage stays k-bounded because each
    round's centroid frame is tiny and re-broadcast. At huge k move
    the argmin to a BLAS `mapInPandas` (same plan shape).

    Precondition (r13 ADVICE item 3): ``id_col`` must be UNIQUE — the
    round-13 map-only assignment emits one row per input row (the old
    groupBy(id) argmin incidentally deduped). Ids are the vector key
    at every call site; this documents the contract.
    """
    from .ranks import spread_small_scan

    # A small corpus parquet scans as ONE partition, which would
    # serialize every per-row argmin (k·dim interpreted-HOF flops)
    # onto a single task; spread fans the scan out once it matters.
    # No pin: the subtree below is just scan+cast, cheaper to
    # recompute per consumer than a parquet round-trip.
    emb = spread_small_scan(
        df.select(
            F.col(id_col).alias("__id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
    )
    seed = emb.orderBy("__id").limit(k)
    # cell id = rank of __id among the k seeds. For practical k the
    # rank map is built from ONE column-pruned O(k) driver collect and
    # inlined as a map literal — measured faster per trainer call than
    # the round-5 k²-pair self-join (which added 2 joins + an agg to
    # every plan inlining the trainer: IVF/PQ/semdedup), and like it
    # avoids row_number() over an unpartitioned window (a "No Partition
    # Defined" single-task stage). The self-join remains as the
    # fully-distributed fallback for k beyond map-literal size (see
    # SCALING.md seed-rank row).
    if k <= SEED_RANK_COLLECT_MAX:
        ids = sorted(r["__id"] for r in seed.select("__id").collect())
        rank_map = F.create_map(
            *[F.lit(x) for i, sid in enumerate(ids) for x in (sid, i)]
        )
        cent = seed.select(
            F.element_at(rank_map, F.col("__id")).cast("int").alias("cell"),
            F.col("__v").alias("__c"),
        )
    else:
        cellno = (
            seed.select(F.col("__id").alias("__ida"))
            .join(
                F.broadcast(seed.select(F.col("__id").alias("__idb"))),
                F.col("__idb") < F.col("__ida"),
                "left",
            )
            .groupBy("__ida")
            .agg(F.count("__idb").cast("int").alias("cell"))
        )
        cent = seed.join(cellno, seed["__id"] == cellno["__ida"]).select(
            "cell", F.col("__v").alias("__c")
        )
    assigned = None
    for _ in range(iters):
        # Round-13 optimization (guide §2.4): the centroid set is packed
        # into ONE broadcast row and the argmin is a per-row fold, so
        # the assignment is map-only — the old crossJoin + groupBy(id)
        # shape shuffled the whole corpus per round just to recombine k
        # distance copies of each row, and then re-JOINED the (id, cell)
        # result back to emb to fetch vectors for the means. Carrying
        # __v through the map-side assignment removes both exchanges per
        # round; the means aggregation below is unchanged (same
        # round(sum,6)/count per (cell, dim), same bit-exact policy).
        assigned = emb.crossJoin(F.broadcast(_pack_centroids(cent))).select(
            "__id",
            "__v",
            _packed_argmin(F.col("__v"), F.col("__cents")).alias("cell"),
        )
        # The means stay on the exploded (cell, dim) shape: an
        # explode-free 64-dim variant (_mean_vector_agg) was A/B'd in
        # round 14 and measured flat-to-worse here (sem_dedup_kmeans
        # 3.34/3.33 vs 3.16/3.06 old) — at dim=64 the 128 aggregate
        # buffers lose what the removed Generate saves (PQ's w=16
        # subspaces, where it wins, DID keep it; see pq_train_encode).
        means = (
            assigned.select("cell", F.posexplode("__v").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg((F.round(F.sum("val"), 6) / F.count(F.lit(1))).alias("mu"))
        )
        cent = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                lambda s: s["mu"],
            ).alias("__c")
        )
    return assigned.select(
        F.col("__id").alias(id_col), F.col("cell").cast("long").alias("cell")
    )


def semdedup_kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 8,
    iters: int = 2,
    threshold: float = 0.40,
) -> DataFrame:
    """SemDeDup exactly as the paper runs it (Abbas et al. 2023): k-means
    cluster the embeddings, compute pairwise cosine only within each
    cluster, greedily drop every vector duplicating a lower-id
    cluster-mate. `semdedup` (hyperplane cells) is the fitting-free
    variant; this one pays the small Lloyd's cost for better-shaped
    cells (boundary-straddling near-dups split across hyperplane cells
    land together here).

    Scale: k-means rounds as in `kmeans_fit_predict`; the in-cell pair
    join shuffles on the cell id with per-cell n²/2 work — pick k so
    the biggest cell's pairs fit a task (k ≈ corpus/√pairs_per_task).
    ``k=None`` derives it from a corpus count via :func:`auto_cells`
    (target ~1000 rows/cell); pass an explicit int for
    oracle-replayable runs.
    """
    if k is None:
        k = auto_cells(df.count())
    cells = kmeans_fit_predict(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters)
    sig = df.select(
        F.col(id_col).alias("id"), unit(F.col(vec_col)).alias("__un")
    ).join(cells.withColumnRenamed(id_col, "id"), "id")
    a = sig.select(F.col("id").alias("id_a"), F.col("__un").alias("u_a"), "cell")
    b = sig.select(F.col("id").alias("id_b"), F.col("__un").alias("u_b"), "cell")
    dup_pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot(F.col("u_a"), F.col("u_b")) >= threshold)
        .select(F.col("id_b").alias("dropped_id"))
        .distinct()
    )
    return (
        sig.join(dup_pairs, sig["id"] == dup_pairs["dropped_id"], "left")
        .select("id", "cell", F.col("dropped_id").isNull().alias("kept"))
    )


def _encode_rowwise_against_codebook(
    src: DataFrame,
    cb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    dim: int,
) -> DataFrame:
    """(id, codes array<long>) via a fully MAP-SIDE encode: the whole
    codebook packed into ONE broadcast row as an m-keyed MAP of
    per-subspace (code, cv) codeword arrays; per vector, each
    subspace's code is the (d, code) struct-min over ITS codeword
    array, fetched with one ``try_element_at`` map lookup. Replaces
    the subvector explode + broadcast join + groupBy(id, m) argmin +
    groupBy(id) pack (two shuffles of the n·m frame) with zero
    exchanges over the batch (round-13, guide §2.4). Round-14
    (r13 ADVICE item 2): the previous packing was ONE flat
    (m, code, cv) array that every ``_best(mm)`` re-scanned with
    ``F.filter`` — m interpreted passes over all m·ksub entries per
    vector, an O(m²·ksub) comparison term that grows quadratically in
    m on an interpreted-HOF path (the round-13 ×5.3 cliff's territory).
    The map lookup is O(m) per subspace; the per-codeword distance
    folds (the real work) are unchanged. Missing-subspace semantics
    are preserved: ``try_element_at`` yields NULL where the old filter
    yielded an empty array, and both collapse to a NULL code.
    Distances are the same per-(subvector, codeword) doubles, ties to
    the lower code — bit-identical codes."""
    w = dim // m
    cb_row = (
        cb.groupBy("m")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("code"), F.col("cv")))
            ).alias("__sub")
        )
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col("m"), F.col("__sub"))))
            ).alias("__cb")
        )
    )

    def _best(mm: int):
        sv = F.transform(
            F.slice(F.col(vec_col), mm * w + 1, w), lambda x: x.cast("double")
        )
        return F.array_min(
            F.transform(
                F.try_element_at(F.col("__cb"), F.lit(mm)),
                lambda s: F.struct(
                    F.aggregate(
                        F.zip_with(sv, s["cv"], lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    s["code"].alias("code"),
                ),
            )
        )["code"]

    return src.crossJoin(F.broadcast(cb_row)).select(
        F.col(id_col), F.array(*[_best(mm) for mm in range(m)]).alias("codes")
    )


def pq_train_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` subspaces of ``dim/m`` dims, k-means each subspace to ``ksub``
    codewords, encode every vector as its per-subspace nearest-codeword
    ids. Returns ``(codes, codebook)`` — codes ``(id, codes
    array<long>)``, codebook ``(m, code, cv array<double>)``.

    This is THE memory-scale path for vector search: a 64-dim float
    corpus (256 B/row) becomes ``m`` small ints (~m bytes) — a 100 TB
    embedding store shrinks ~64× and the ANN scan reads codes, not
    vectors. All m codebooks train in ONE set of Lloyd's rounds by
    carrying the subspace id in the group key (no per-subspace pass).

    Determinism follows `kmeans_fit_predict`: init codewords are the
    ksub lowest-id subvectors per subspace; means are round(sum,6)/count;
    argmin ties break to the lower code. Empty codewords keep their
    previous centroid (standard k-means practice), so the (m, code)
    grid stays dense — positional ADC tables index it exactly.

    Scale shape per round: subvector explode is a narrow map (m rows /
    vector), assignment joins a broadcast m·ksub codebook (map-only),
    the update is one (m, code, dim) partial-agg shuffle. Encoding adds
    one groupBy(id) to pack codes — the only per-corpus shuffle.
    """
    from pyspark.sql.window import Window

    w = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.transform(
                    F.slice(F.col(vec_col), mm * w + 1, w), lambda x: x.cast("double")
                ).alias("sv"),
            )
            for mm in range(m)
        ]
    )
    from .ranks import spread_small_scan

    # Same spread rationale as kmeans_fit_predict: the subvector frame
    # feeds every Lloyd's round plus the final encode, and a
    # single-file corpus would run all of it on one task. Spread the
    # narrow (id, vec) projection BEFORE the m-way explode so the
    # round-robin moves n rows, not m·n.
    src = spread_small_scan(df.select(F.col(id_col), F.col(vec_col)))
    sub = src.select(F.col(id_col).alias("__id"), F.explode(subs).alias("s")).select(
        "__id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )
    # Init codewords = the ksub lowest-id subvectors per subspace. The
    # ids are shared across subspaces, so this equals exploding the
    # ksub lowest-id VECTORS — orderBy().limit() is a distributed
    # TakeOrdered over n rows; the old row_number window partitioned by
    # m sorted the whole n·m subvector frame across only m tasks
    # (round-13, guide §2.5: synthetic partition key with m distinct
    # values). The window now runs over ≤ m·ksub rows.
    seed_sub = (
        src.orderBy(F.col(id_col))
        .limit(ksub)
        .select(F.col(id_col).alias("__id"), F.explode(subs).alias("s"))
        .select("__id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    )
    wn = Window.partitionBy("m").orderBy("__id")
    cb = (
        seed_sub.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= ksub)
        .select("m", (F.col("rn") - 1).cast("long").alias("code"), F.col("sv").alias("cv"))
    )
    # Round-13 optimization (guide §2.4): training assignments pack each
    # subspace's codewords into ONE row (an m-row broadcast) and take
    # the argmin as a per-row fold, carrying sv through — the old shape
    # shuffled the n·m subvector frame per round (groupBy(id, m) argmin)
    # and re-joined it to sub for the means. The FINAL assignment (the
    # encode itself) goes further: codes are computed row-wise per
    # VECTOR against the full packed codebook, so the groupBy(id)
    # code-packing shuffle disappears too. argmin ties break to the
    # lower code via the same (d, code) struct-min ordering — results
    # are bit-identical (asserted by the oracle suite).
    for _ in range(iters - 1):
        cbm = cb.groupBy("m").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("code").alias("cell"), F.col("cv").alias("c"))
                )
            ).alias("__cws")
        )
        assigned = sub.join(F.broadcast(cbm), "m").select(
            "__id",
            "m",
            "sv",
            _packed_argmin(F.col("sv"), F.col("__cws")).alias("code"),
        )
        # Round-14: subspace width w is static, so the codeword means
        # are one explode-free aggregation (same round(sum,6)/count per
        # element; the old shape posexploded the n·m subvector frame
        # into w· more rows and paid a second (m, code) exchange to
        # repack — see _mean_vector_agg).
        means = assigned.groupBy("m", "code").agg(
            _mean_vector_agg(F.col("sv"), w, "cv2")
        )
        cb = cb.join(means, ["m", "code"], "left").select(
            "m", "code", F.coalesce(F.col("cv2"), F.col("cv")).alias("cv")
        )
    codes = _encode_rowwise_against_codebook(src, cb, id_col, vec_col, m, dim)
    return codes, cb


def pq_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    topk: int = 5,
    index: tuple[DataFrame, DataFrame] | None = None,
    impl: str = "expr",
) -> DataFrame:
    """PQ approximate nearest neighbors via asymmetric distance
    computation (ADC): train/encode with `pq_train_encode`, build each
    query's m·ksub lookup table of exact subvector-to-codeword squared
    distances, then score every candidate as the m-ordered sum of table
    entries selected by its codes.

    ``impl='expr'`` evaluates the ADC fold as a Catalyst higher-order
    function (JVM-side but interpreted — the oracle-matched reference
    path); ``impl='arrow'`` computes the same sums with a numpy gather
    inside ``mapInPandas``. Both sum in fixed subspace order on the
    same doubles, so results are bit-identical (asserted in tests).
    Measured at 200k codes / m=4 the expr fold still wins (2.2s vs
    2.6s — Arrow ships the per-row LUT copy); the arrow path is the
    escape hatch for large m·ksub where the interpreted per-element
    fold, not transfer, dominates.

    ``index`` takes a prebuilt ``(codes, codebook)`` pair — the
    production pattern: train/encode ONCE (persist or write the code
    table), amortize over every query batch. Omitted, it trains inline
    (the oracle-checked single-shot form).

    Scale shape: the candidate scan touches ONLY the code column (~m
    bytes/row — the 64× compressed store), the per-query LUT is m·ksub
    doubles broadcast to it (map-only), and the single shuffle is the
    per-query top-k window. Compose with `kmeans_fit_predict` cells to
    make it IVF-PQ (probe cells first, ADC within). The ADC sum is
    evaluated in fixed subspace order on bit-identical LUT entries, so
    an external engine replays the ranking exactly.
    """
    from pyspark.sql.window import Window

    w = dim // m
    if index is None:
        codes, cb = pq_train_encode(
            df, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, iters=iters, dim=dim
        )
        cb = cb.persist()
    else:
        codes, cb = index
    subs = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.transform(
                    F.slice(F.col(vec_col), mm * w + 1, w), lambda x: x.cast("double")
                ).alias("qsv"),
            )
            for mm in range(m)
        ]
    )
    qsub = (
        df.join(query_ids, id_col)
        .select(F.col(id_col).alias("q_id"), F.explode(subs).alias("s"))
        .select("q_id", F.col("s.m").alias("m"), F.col("s.qsv").alias("qsv"))
    )
    d = F.aggregate(
        F.zip_with(F.col("qsv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = (
        qsub.join(F.broadcast(cb), "m")
        .select(
            "q_id", (F.col("m") * ksub + F.col("code")).alias("pos"), d.alias("d")
        )
        .groupBy("q_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "d"))), lambda s: s["d"]
            ).alias("lut")
        )
    )
    joined = codes.crossJoin(F.broadcast(lut)).filter(F.col(id_col) != F.col("q_id"))
    if impl == "arrow":
        import pandas as pd

        def _adc(batches):
            import numpy as np

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cm = np.stack(pdf["codes"].to_numpy()).astype("int64")  # (n, m)
                lm = np.stack(pdf["lut"].to_numpy())  # (n, m*ksub)
                pos = cm + np.arange(m) * ksub  # (n, m)
                # fixed subspace order: lut[m0] + lut[m1] + … — same
                # summation order as the expr fold, bit-identical
                ad = np.take_along_axis(lm, pos, axis=1)
                acc = ad[:, 0].copy()
                for j in range(1, m):
                    acc += ad[:, j]
                yield pd.DataFrame(
                    {"q_id": pdf["q_id"], "cand_id": pdf[id_col], "ad": acc}
                )

        scored = joined.mapInPandas(
            _adc, schema="q_id long, cand_id long, ad double"
        )
    else:
        ad = F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda c, mm: F.get(F.col("lut"), (mm * ksub + c).cast("int")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = joined.select(
            "q_id", F.col(id_col).alias("cand_id"), ad.alias("ad")
        )
    wr = Window.partitionBy("q_id").orderBy(F.col("ad"), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= topk)
        .select("q_id", "cand_id")
    )


def ivfpq_build_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the IVF-PQ index once: returns ``(index_table, codebook,
    centroids)`` where index_table is the (id, codes, cell) join —
    persist it (or write it as a table; it's ~m bytes + a cell id per
    vector) and feed every subsequent `ivfpq_topk` call via ``index=``.
    Training cost amortizes to zero over query batches, exactly like a
    production ANN service's build/serve split."""
    cells = kmeans_fit_predict(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters)
    codes, cb = pq_train_encode(
        df, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, iters=iters, dim=dim
    )
    cb = cb.persist()
    idx = codes.join(cells, id_col)  # (id, codes, cell) — the IVF-PQ index table
    emb_d = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    centroids = _cell_centroids(emb_d, cells, id_col)
    return idx, cb, centroids


def ivfpq_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    probes: int = 2,
    topk: int = 5,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ — the canonical billion-scale ANN layout (Jégou et al.
    2011): a coarse k-means quantizer partitions the corpus into ``k``
    inverted lists, product quantization compresses every vector to
    ``m`` code bytes, and a query probes its ``probes`` nearest cells
    scoring ONLY those cells' codes via the ADC lookup table.

    ``index`` takes a prebuilt ``(index_table, codebook, centroids)``
    triple from `ivfpq_build_index` — train once, persist/write the
    (cell, codes) table, amortize over every query batch. Omitted, it
    trains inline (the oracle-checked single-shot form).

    Simplification vs the paper: PQ trains on raw vectors, not
    cell-residuals (keeps the two trainings independent and the oracle
    replayable); the rerank stage (`pq_topk_rerank`) recovers the
    accuracy gap where it matters.

    Scale shape: candidate scan cost drops twice — probes/k of the
    corpus is visited (IVF) and each visited row is ~m bytes (PQ).
    Cells and codes are one co-partitioned join on id (done once,
    reusable as a materialized index table); per-query work is k
    centroid distances + the probed cells' ADC sums. The only per-query
    shuffle is the top-k window.
    """
    from pyspark.sql.window import Window

    w = dim // m
    if index is None:
        idx, cb, centroids = ivfpq_build_index(
            df, id_col=id_col, vec_col=vec_col, k=k, m=m, ksub=ksub,
            iters=iters, dim=dim,
        )
    else:
        idx, cb, centroids = index
    q = df.join(query_ids, id_col).select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    celldist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("__d"), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .select("q_id", "cell", celldist.alias("__d"))
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= probes)
        .select("q_id", "cell")
    )

    qsubs = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.slice(F.col("qv"), mm * w + 1, w).alias("qsv"),
            )
            for mm in range(m)
        ]
    )
    qsub = q.select("q_id", F.explode(qsubs).alias("s")).select(
        "q_id", F.col("s.m").alias("m"), F.col("s.qsv").alias("qsv")
    )
    d = F.aggregate(
        F.zip_with(F.col("qsv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = (
        qsub.join(F.broadcast(cb), "m")
        .select("q_id", (F.col("m") * ksub + F.col("code")).alias("pos"), d.alias("d"))
        .groupBy("q_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "d"))), lambda s: s["d"]
            ).alias("lut")
        )
    )
    ad = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, mm: F.get(F.col("lut"), (mm * ksub + c).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        idx.join(F.broadcast(probed.join(lut, "q_id")), "cell")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", F.col(id_col).alias("cand_id"), ad.alias("ad"))
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("ad"), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= topk)
        .select("q_id", "cand_id")
    )


def pq_topk_rerank(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    shortlist: int = 50,
    topk: int = 5,
) -> DataFrame:
    """Production PQ search shape: ADC over compressed codes produces a
    ``shortlist`` (L ≫ k) per query, then EXACT L2 on raw vectors
    reranks only those L candidates — recovering most of the recall the
    12-bit codes lose while still scanning the 64×-smaller code column
    for the corpus-wide pass.

    Scale shape: stage 1 is `pq_topk` (code scan + broadcast LUT, one
    q_id shuffle); stage 2 joins the L·|queries| shortlist back to the
    vector store by id (a semi-join-sized probe, not a scan) and windows
    per query. Raw vectors are touched for L rows per query only.
    """
    from pyspark.sql.window import Window

    short = pq_topk(
        df, query_ids, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub,
        iters=iters, dim=dim, topk=shortlist,
    )
    cand = short.join(
        df.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")),
        "cand_id",
    )
    qv = df.join(query_ids, id_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    l2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d"), F.col("cand_id"))
    return (
        cand.join(F.broadcast(qv), "q_id")
        .select("q_id", "cand_id", l2.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("q_id", "cand_id")
    )


def ivf_topk_trained(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    topk: int = 5,
    probes: int = 1,
) -> DataFrame:
    """Trained-IVF approximate nearest neighbors: k-means the corpus
    (`kmeans_fit_predict`), probe each query's ``probes`` nearest
    centroids, exact cosine top-k within the probed cells only.

    This is the full production IVF recipe (train → assign → probe)
    rather than a label stand-in (`sim_ivf_topk`). Work per query =
    k centroid distances + probes·n/k cosines — corpus-sublinear;
    ``probes`` trades recall for candidate count with no plan change.
    All math follows the determinism policy, so an external engine
    replays it exactly.
    """
    cells = kmeans_fit_predict(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters)
    emb = df.select(
        F.col(id_col).alias("cid"),
        unit(F.col(vec_col)).alias("cu"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).join(cells.withColumnRenamed(id_col, "cid"), "cid")
    centroids = (
        emb.select("cell", F.posexplode("cv").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg((F.round(F.sum("val"), 6) / F.count(F.lit(1))).alias("mu"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
            ).alias("centroid")
        )
    )
    q = df.join(query_ids, id_col).select(
        F.col(id_col).alias("q_id"),
        unit(F.col(vec_col)).alias("qu"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    sqdist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql.window import Window

    wp = Window.partitionBy("q_id").orderBy(F.col("__d"), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .select("q_id", "qu", "cell", sqdist.alias("__d"))
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= probes)
        .select("q_id", "cell", "qu")
    )

    scored = (
        emb.join(F.broadcast(probed), "cell")
        .filter(F.col("cid") != F.col("q_id"))
        .select("q_id", "cid", dot(F.col("qu"), F.col("cu")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("q_id", F.col("cid").alias("cand_id"))
    )


def _mean_vector_agg(vec: "F.Column", dim: int, out: str) -> "F.Column":
    """The engine-portable mean of a fixed-``dim`` vector column as ONE
    aggregate projection: per element, round(sum, 6)/count — the exact
    expressions the exploded (key, dim) shape computed, just evaluated
    as ``dim`` parallel aggregation buffers over whole-array rows
    (round 14, guide §2.3/§1.2-1: the posexplode multiplied every
    vector into ``dim`` (key, dim, val) rows through a Generate and a
    ``dim``-times-larger hash-aggregate, then paid a SECOND exchange
    just to collect_list the elements back into an array).
    Precondition: the vectors hold no NULL elements. Ragged (short)
    arrays keep the exploded shape's semantics — ``F.get`` is null out
    of bounds, so an absent element adds to neither sum nor count, as
    posexplode emitted no row for it — but an explicit in-array NULL
    drops out of the count here while the exploded shape counted it."""
    el = [F.get(vec, i) for i in range(dim)]
    return F.array(*[F.round(F.sum(e), 6) / F.count(e) for e in el]).alias(out)


def _cell_centroids(
    emb_d: DataFrame, cells: DataFrame, id_col: str
) -> DataFrame:
    """Per-cell mean vectors from a final k-means assignment —
    round(sum,6)/count per dim (the engine-portable determinism rule),
    one partial-agg shuffle. Kept on the exploded shape: the
    explode-free 64-dim variant measured flat-to-worse in round 14's
    A/B (see kmeans_fit_predict's loop comment); only PQ's w=16
    subspace means (:func:`_mean_vector_agg`) kept it."""
    joined = cells.withColumnRenamed(id_col, "__id").join(emb_d, "__id")
    return (
        joined
        .select("cell", F.posexplode("__v").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg((F.round(F.sum("val"), 6) / F.count(F.lit(1))).alias("mu"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
            ).alias("centroid")
        )
    )


def ivfadc_build_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Paper-exact IVFADC training (Jégou et al. 2011 §IV): PQ is
    trained on CELL-RESIDUALS ``r = x − centroid(cell(x))`` instead of
    raw vectors. Residuals concentrate near the origin regardless of
    which cell a vector lives in, so the m×ksub codebook spends its
    capacity on local displacement, not on re-describing the coarse
    structure the IVF already captured — at high compression this is
    where the recall gap between raw-PQ and IVFADC comes from.

    Returns ``(index_table, codebook, centroids)`` with index_table =
    (id, codes, cell); serve with `ivfadc_topk(..., index=...)`.

    Scale shape: one extra broadcast join (centroids, k rows) over
    `ivfpq_build_index` to form residuals; everything else identical —
    the residual frame is narrow (id, rv) and feeds the same
    one-shuffle-per-round PQ training.
    """
    cells = kmeans_fit_predict(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters)
    emb_d = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    centroids = _cell_centroids(emb_d, cells, id_col).persist()
    resid = (
        emb_d.join(cells.withColumnRenamed(id_col, "__id"), "__id")
        .join(F.broadcast(centroids), "cell")
        .select(
            F.col("__id").alias(id_col),
            F.zip_with(F.col("__v"), F.col("centroid"), lambda x, c: x - c).alias(
                "rv"
            ),
        )
    )
    codes, cb = pq_train_encode(
        resid, id_col=id_col, vec_col="rv", m=m, ksub=ksub, iters=iters, dim=dim
    )
    cb = cb.persist()
    idx = codes.join(cells, id_col)
    return idx, cb, centroids


def ivfadc_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    probes: int = 2,
    topk: int = 5,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVFADC serving: residual-PQ ADC. Because codes encode residuals
    RELATIVE TO THEIR CELL, the query's lookup table is built per
    (query, probed cell) from the query residual ``q − centroid(cell)``
    — the per-probe LUT of the paper — instead of one LUT per query.
    Cost: probes× the LUT rows of raw-PQ (still m·ksub tiny floats per
    (q, cell), broadcast), unchanged candidate scan.

    Distance scored is ``Σ_m ‖(q − c)_m − cv[m, code]‖²`` ≈
    ‖q − x‖² up to the quantization error — the ADC estimator of
    Jégou et al. §IV.A applied in the residual space.
    """
    from pyspark.sql.window import Window

    w = dim // m
    if index is None:
        idx, cb, centroids = ivfadc_build_index(
            df, id_col=id_col, vec_col=vec_col, k=k, m=m, ksub=ksub,
            iters=iters, dim=dim,
        )
    else:
        idx, cb, centroids = index
    q = df.join(query_ids, id_col).select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    celldist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("__d"), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .select("q_id", "cell", "centroid", celldist.alias("__d"))
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= probes)
        .select("q_id", "cell", "centroid")
    )
    # per-(query, probed cell) residual subvectors → per-probe LUT
    qres = probed.join(q, "q_id").select(
        "q_id",
        "cell",
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, c: x - c).alias("qrv"),
    )
    qsubs = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.slice(F.col("qrv"), mm * w + 1, w).alias("qsv"),
            )
            for mm in range(m)
        ]
    )
    qsub = qres.select("q_id", "cell", F.explode(qsubs).alias("s")).select(
        "q_id", "cell", F.col("s.m").alias("m"), F.col("s.qsv").alias("qsv")
    )
    d = F.aggregate(
        F.zip_with(F.col("qsv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = (
        qsub.join(F.broadcast(cb), "m")
        .select(
            "q_id",
            "cell",
            (F.col("m") * ksub + F.col("code")).alias("pos"),
            d.alias("d"),
        )
        .groupBy("q_id", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "d"))), lambda s: s["d"]
            ).alias("lut")
        )
    )
    ad = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, mm: F.get(F.col("lut"), (mm * ksub + c).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        idx.join(F.broadcast(lut), "cell")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", F.col(id_col).alias("cand_id"), ad.alias("ad"))
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("ad"), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= topk)
        .select("q_id", "cand_id")
    )


def ivfadc_topk_rerank(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    probes: int = 2,
    shortlist: int = 50,
    topk: int = 5,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Production IVFADC serving: the residual-ADC scan shortlists
    ``shortlist`` candidates per query (compressed codes only), then
    exact L2 on raw vectors reranks just those rows — the IVFADC +
    rerank recipe of Jégou et al. §V. Raw vectors are probed
    per-shortlist-row only, so the corpus scan stays ~m bytes/row and
    the refinement cost is O(queries · shortlist · dim)."""
    from pyspark.sql.window import Window

    short = ivfadc_topk(
        df, query_ids, id_col=id_col, vec_col=vec_col, k=k, m=m, ksub=ksub,
        iters=iters, dim=dim, probes=probes, topk=shortlist, index=index,
    )
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    qv = vecs.withColumnRenamed(id_col, "q_id").withColumnRenamed("__v", "__qv")
    cv = vecs.withColumnRenamed(id_col, "cand_id").withColumnRenamed("__v", "__cv")
    d = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("__d"), F.col("cand_id"))
    return (
        short.join(qv, "q_id")
        .join(cv, "cand_id")
        .select("q_id", "cand_id", d.alias("__d"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= topk)
        .select("q_id", "cand_id")
    )


def power_iteration_top_pc(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    scale: int = 10000,
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix by
    distributed power iteration — in FIXED-POINT INTEGER arithmetic so
    the whole iterative computation is bit-portable across engines
    (the PageRank micro-unit trick applied to linear algebra).

    Each round computes w = Xᵀ(Xv) as two keyed aggregations: a
    per-row projection (join on dim against the broadcast d-row
    vector, groupBy id) and a per-dim accumulation (join the
    projections back, groupBy dim) — never a matrix in driver memory,
    shuffles keyed on id/dim only. The vector renormalizes to
    max-abs = ``scale`` with truncation-toward-zero integer division
    (`div`), so every engine that does exact int64 arithmetic iterates
    IDENTICALLY — no float accumulation order anywhere.

    Overflow budget (int64): |x| ≤ 0.6·scale, d=64, projections are
    rescaled by ``div scale`` before the accumulation, so per-dim sums
    stay < n·0.6·scale·(0.6·64·scale) ≈ n·2.3e9 — safe past 10⁸ rows
    at the default scale. The RENORM step divides BEFORE multiplying
    (``abs(w) div (m div scale)``, with the divisor floored at 1 for
    degenerate sub-scale inputs): the earlier ``abs(w)·scale div m``
    form overflowed int64 once |w| ≈ n·2.3e9 crossed 2⁶³/scale — i.e.
    at n ≈ 4e5 rows, where Spark wraps silently while DuckDB raises.
    Divide-first keeps every intermediate ≤ max(|w|, scale·(1+ε)), so
    the n·2.3e9 budget above is the only binding constraint.

    Scale note: the exploded fixed-point matrix feeds two joins per
    iteration; unpersisted, Catalyst would re-run the posexplode
    2·iters times (the dominant cost at 100 TB — the "self-joins
    recompute unpersisted subtrees" trap, SCALING.md). It is pinned
    once via a scratch-parquet spill (zero cache entries, survives
    executor loss; ``operators.ranks.pin_frame``).

    Returns (dim, vq): the loading vector at fixed-point ``scale``
    (top right-singular direction up to sign/scale) — the input to
    spectral hashing / projection pruning. Converges at the usual
    power-iteration rate; ``iters=3`` matches the registry oracle's
    unrolled SQL replay.

    Round-13 note: a packed-array rewrite (per-row integer folds
    against a broadcast 1-row v, w as one global agg) was measured at
    ×5.3 SLOWER at sf0.1 and reverted — the exploded shape's joins and
    keyed aggregations are whole-stage-codegen'd columnar work, while
    array folds are interpreted HOFs (guide §4.2's caveat in reverse).
    The exchanges this shape pays are partial-aggregated and tiny.
    """
    from .ranks import pin_frame

    exq = df.select(
        F.col(id_col).alias("__id"), F.posexplode(vec_col).alias("dim", "v")
    ).select(
        "__id",
        "dim",
        F.round(F.col("v").cast("double") * scale, 0).cast("long").alias("xq"),
    )
    exq = pin_frame(exq)
    dims = exq.select("dim").distinct()
    v = dims.select("dim", F.lit(scale).cast("long").alias("vq"))
    for _ in range(iters):
        xv = (
            exq.join(F.broadcast(v), "dim")
            .groupBy("__id")
            .agg(F.sum(F.col("xq") * F.col("vq")).alias("s"))
        )
        sp = xv.select(
            "__id",
            (
                F.expr(f"abs(s) div {int(scale)}")
                * F.when(F.col("s") < 0, -1).otherwise(1)
            )
            .cast("long")
            .alias("sp"),
        )
        w = (
            exq.join(sp, "__id")
            .groupBy("dim")
            .agg(F.sum(F.col("sp") * F.col("xq")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        # divide-first renorm: abs(w) div (m div scale) never exceeds
        # ~scale, where abs(w)*scale would wrap int64 at n ≈ 4e5 rows;
        # greatest(..., 1) guards the degenerate m < scale corpus
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "dim",
                (
                    F.expr(f"abs(w) div greatest(m div {int(scale)}, 1)")
                    * F.when(F.col("w") < 0, -1).otherwise(1)
                )
                .cast("long")
                .alias("vq"),
            )
        )
    return v.select("dim", "vq")


# ---------------------------------------------------------------------------
# Incremental ANN index maintenance (round-10): merge a new-embeddings
# batch into an existing IVF / PQ structure WITHOUT retraining.
# ---------------------------------------------------------------------------


def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest FROZEN centroid — the core of
    incremental IVF maintenance: new vectors join an existing index by
    one broadcast argmin pass, no retrain. ``centroids`` is the
    (cell, centroid array<double>) frame an IVF build produces
    (`_cell_centroids` shape). Ties break to the lower cell id, the
    same rule training uses, so an incrementally-assigned vector lands
    exactly where a full retrain's assignment step would put it given
    these centroids.

    Scale shape: ONE map-only pass — k·dim flops per row against a
    broadcast k-row centroid frame, zero shuffles over the batch
    (the groupBy argmin partial-aggregates map-side to one row per
    vector). A 100 TB corpus absorbs a daily batch at scan speed,
    which is the whole point of maintain-vs-retrain.

    Precondition (r13 ADVICE item 3): ``id_col`` must be UNIQUE in
    ``df``. The pre-round-13 shape's groupBy(id) happened to collapse
    duplicate ids to one row as a side effect; the map-only pass emits
    one output row per INPUT row. Every call site feeds unique vector
    ids (it is the index key), so this documents the contract rather
    than changing behavior.
    """
    from .ranks import spread_small_scan

    new_d = spread_small_scan(
        df.select(
            F.col(id_col).alias("__id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
    )
    # Round-13: pack the k centroids into one broadcast row and fold the
    # argmin per row — the groupBy(id) exchange recombining k distance
    # copies was pure overhead (the map-side partial already had every
    # copy in one task). Same (d, cell) struct-min ordering, same cells.
    packed = _pack_centroids(centroids, cell_col="cell", vec_col="centroid")
    return new_d.crossJoin(F.broadcast(packed)).select(
        F.col("__id").alias(id_col),
        _packed_argmin(F.col("__v"), F.col("__cents")).cast("long").alias("cell"),
    )


def ivf_build_cells_and_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Train an IVF coarse quantizer and return BOTH halves of the
    index state: ``(cells, centroids)`` — (id, cell) assignments and
    the per-cell mean vectors (round(sum,6)/count, the determinism
    policy). This is the state a maintenance pass needs: new batches
    assign against ``centroids`` (`assign_to_centroids`) and append to
    ``cells``; serving probes centroids then scans cells."""
    cells = kmeans_fit_predict(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters)
    emb_d = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    return cells, _cell_centroids(emb_d, cells, id_col)


def pq_encode_frozen(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Encode vectors against a FROZEN PQ codebook (the (m, code, cv)
    frame `pq_train_encode` returns) — incremental PQ maintenance: a
    new batch gets codes from the existing codebooks, bit-identical to
    what re-running the trainer's final assignment step would emit, so
    ADC serving tables keep working unchanged across merges.

    Scale shape (round-13): ONE map-only pass — the m·ksub codebook is
    packed into a single broadcast row and every vector's m codes are
    per-row struct-min folds (ties to the lower code, the training
    rule). Zero shuffles over the batch: the old subvector explode +
    broadcast join + groupBy(id, m) argmin + groupBy(id) code pack
    shuffled the n·m frame twice to compute a per-row function.

    Precondition (r13 ADVICE item 3): ``id_col`` must be UNIQUE in
    ``df`` — the map-only pass emits one row per input row, where the
    old groupBy(id) pack would have merged duplicate ids into one
    corrupt row. Vector ids are the index key at every call site."""
    from .ranks import spread_small_scan

    src = spread_small_scan(df.select(F.col(id_col), F.col(vec_col)))
    return _encode_rowwise_against_codebook(src, codebook, id_col, vec_col, m, dim)


def ivf_merged_topk(
    base_df: DataFrame,
    new_df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    topk: int = 5,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Serve ANN queries from a MERGED index: train on the base corpus,
    assign the new batch to the frozen centroids, and probe the union —
    proof that an incrementally-maintained index stays serveable with
    the exact `ivf_topk_trained` probe shape (nearest centroid, exact
    cosine top-k within the probed cell), no retrain between batches.

    Queries see both old and new vectors in one candidate scan because
    the merged (id, cell) assignment is just a union — cell ids are
    stable under maintenance since the centroids are frozen.

    ``tombstones`` (optional, an ``id_col`` frame) completes the index
    lifecycle: DELETED vectors are excluded from the candidate side by
    one anti-join at serve time — no index rebuild, no hole-patching,
    the standard soft-delete an updatable vector store runs between
    compactions. Queries themselves may be tombstoned ids (a deleted
    doc can still be a probe); only candidacy is revoked.

    Overlapping ids UPSERT (round-10 ADVICE): an id present in both
    frames takes the NEW batch's vector and assignment — the base row
    is anti-joined out of both the cell map and the candidate corpus
    before the union, so a re-ingested document can never appear as
    two candidate rows or skew cell occupancy. The anti-join keys on
    the (small) new batch, so at scale it's a broadcast anti-join on
    the base side, not a second corpus shuffle."""
    from pyspark.sql.window import Window

    cells_base, centroids = ivf_build_cells_and_centroids(
        base_df, id_col=id_col, vec_col=vec_col, k=k, iters=iters
    )
    cells_new = assign_to_centroids(
        new_df, centroids, id_col=id_col, vec_col=vec_col
    )
    new_ids = new_df.select(id_col)
    merged_cells = (
        cells_base.select(
            F.col(id_col), F.col("cell").cast("long").alias("cell")
        )
        .join(new_ids, id_col, "left_anti")
        .unionByName(cells_new)
    )
    if tombstones is not None:
        # no broadcast hint: a small delete set auto-broadcasts under
        # the threshold, a compaction-overdue one shuffles on the id
        # key rather than spilling a forced broadcast
        merged_cells = merged_cells.join(
            tombstones.select(id_col), id_col, "left_anti"
        )
    corpus = (
        base_df.select(id_col, vec_col)
        .join(new_ids, id_col, "left_anti")
        .unionByName(new_df.select(id_col, vec_col))
    )
    emb = corpus.select(
        F.col(id_col).alias("cid"),
        unit(F.col(vec_col)).alias("cu"),
    ).join(merged_cells.withColumnRenamed(id_col, "cid"), "cid")
    q = corpus.join(query_ids, id_col).select(
        F.col(id_col).alias("q_id"),
        unit(F.col(vec_col)).alias("qu"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    sqdist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .select("q_id", "qu", "cell", sqdist.alias("__d"))
        .groupBy("q_id", "qu")
        .agg(F.min(F.struct(F.col("__d"), F.col("cell"))).alias("__b"))
        .select("q_id", "qu", F.col("__b.cell").alias("cell"))
    )
    scored = (
        emb.join(F.broadcast(probed), "cell")
        .filter(F.col("cid") != F.col("q_id"))
        .select("q_id", "cid", dot(F.col("qu"), F.col("cu")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("q_id", F.col("cid").alias("cand_id"))
    )
