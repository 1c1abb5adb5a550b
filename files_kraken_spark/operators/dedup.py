"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame/Catalyst pipelines — no Python UDFs —
so they scale to 100 TB: the only shuffles are the groupBys/joins on
document or bucket keys, and candidate generation (LSH banding) keeps
the pairwise-verify join far below O(n²).

Hash choice: the portable paths (MinHash, SimHash here) derive integer
hashes from md5 hex prefixes so an external engine (the DuckDB oracle)
reproduces them bit-for-bit. For pure-Spark production runs,
``xxhash64`` is ~5× faster and a drop-in swap (``hash_fn='xxhash64'``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, shingles_from_tokens, tokens
from .ranks import spread_small_scan

# Deterministic affine-permutation constants for MinHash:
#   h_i(x) = (A[i] * base_hash(x) + B[i]) mod P
# P is a large prime below 2^31 so A*h stays well inside int64.
MINHASH_P = 2_147_483_647
_LCG_A, _LCG_C, _LCG_M = 1_103_515_245, 12_345, 2**31

#: document-frequency threshold for routing a shingle's pair expansion
#: through the equi-self-join instead of the staged posting-list
#: generates — the same constant (and rationale) as
#: ``graph.AUTO_JOIN_THRESHOLD``: the staged expansion computes an
#: over-threshold shingle's d²/2 pairs inside ONE task from ONE
#: collect_list row, while an equi-join's skewed partition is
#: AQE-splittable and never materializes the posting list as a single
#: array (r13 verdict item 3's §5 memory note).
HOT_SHINGLE_DF_THRESHOLD = 1_024


def _perm_constants(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k (a, b) pairs from a fixed LCG — reproducible everywhere."""
    out, x = [], seed
    for _ in range(k):
        x = (_LCG_A * x + _LCG_C) % _LCG_M
        a = x % (MINHASH_P - 1) + 1
        x = (_LCG_A * x + _LCG_C) % _LCG_M
        b = x % MINHASH_P
        out.append((a, b))
    return out


def md5_hash64(col: Column) -> Column:
    """Portable 32-bit-ish integer hash: first 8 hex chars of md5.

    Reproducible in any engine with md5 + hex parsing (unlike
    murmur3/xxhash which differ per implementation).
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized text: one representative (min id) per
    distinct normalized form. Single hash-shuffle on the fingerprint."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    impl: str = "arrow",
    pad_short: bool = False,
) -> DataFrame:
    """Distinct (id, shingle) pairs — the exploded set representation
    shared by Jaccard verify and MinHash signature computation.

    ``pad_short``: docs with 1 ≤ tokens < k contribute their whole text
    as ONE shingle (the containment-path contract; see
    ``functions.text.shingles_from_tokens``). Default off: sub-k docs
    have no shingles, matching the Jaccard/MinHash oracles.

    Two implementations with identical output:

    - ``expr``: pure Catalyst higher-order functions. HOFs are
      interpreted (no codegen), measured ~50k docs/s/core.
    - ``arrow`` (default): ``mapInPandas`` — tokenize/slide/dedup in
      Python per Arrow batch. The per-doc set() dedup also replaces
      the global ``distinct()`` shuffle, so the explode feeds
      aggregation shuffle-free. ~3-4× faster end-to-end.
    """
    if impl == "expr":
        toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        return toks.select(
            F.col(id_col),
            F.explode(
                shingles_from_tokens(F.col("__toks"), k, pad_short=pad_short)
            ).alias("shingle"),
        ).distinct()

    import re as _re

    import pandas as pd

    def _shingle(batches):
        for pdf in batches:
            ids, shs = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                stripped = t.strip() if isinstance(t, str) else ""
                toks = _re.split(r"\s+", stripped) if stripped else []
                seen = set()
                if pad_short and 0 < len(toks) < k:
                    ids.append(i)
                    shs.append(" ".join(toks))
                    continue
                for j in range(len(toks) - k + 1):
                    s = " ".join(toks[j : j + k])
                    if s not in seen:
                        seen.add(s)
                        ids.append(i)
                        shs.append(s)
            yield pd.DataFrame({id_col: ids, "shingle": shs})

    # preserve the caller's id type (string/int/... ids all valid) —
    # a hardcoded `long` would corrupt or reject non-bigint ids and
    # diverge from the expr impl's output contract
    id_type = df.schema[id_col].dataType.simpleString()
    src = spread_small_scan(df.select(id_col, text_col))
    return src.mapInPandas(_shingle, f"{id_col} {id_type}, shingle string")


def _shingle_pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_shingle_df: int | None,
    pad_short: bool = False,
) -> DataFrame:
    """(id_a, id_b, inter, n_a, n_b) for every id_a < id_b pair sharing
    a shingle — the common backbone of the Jaccard / containment /
    overlap-coefficient measures (they differ only in the final score
    formula). Inverted-index join: only docs sharing a shingle meet,
    shuffles keyed on shingle then pair — never a cross join.

    ``max_shingle_df`` drops shingles appearing in more than that many
    documents from the CANDIDATE join only (stop-phrase skew: a shingle
    shared by 1% of a 100 TB corpus contributes n²/10⁴ pairs and zero
    discrimination). Set sizes keep the hot shingles, so every derived
    score is an UNDERestimate with the cap on — conservative precision,
    bounded recall loss. Default off = exact.

    NOTE this builder is EAGER: the shingle frame is pinned at
    construction (it feeds three consumers) and a stats probe reads the
    pin to route over-``HOT_SHINGLE_DF_THRESHOLD`` shingles through the
    AQE-splittable equi-join instead of the single-row staged expansion
    (round 14; exactness unchanged — see the inline comment).
    """
    # The shingle stage (an Arrow mapInPandas pass over every document)
    # feeds THREE consumers — the per-doc sizes agg and both sides of
    # the inverted-index self-join. Catalyst recomputes unpersisted
    # subtrees per consumer (SCALING.md trap), so without pinning the
    # extraction runs 3× (4× with the df cap's rare-shingle agg).
    # Round-7 bench measured the cost of the unpinned default path:
    # q_jaccard_knn_graph 2.44→3.07s. Pin unconditionally.
    from .ranks import pin_frame

    sh = pin_frame(shingle_sets(df, id_col, text_col, k, pad_short=pad_short))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("shingle")
        )
        join_sh = sh.join(rare, "shingle")
    else:
        join_sh = sh
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    # Round-13 (guide §2.3/§2.4): staged pair expansion instead of the
    # two-sided equi-self-join — one groupBy(shingle) shuffle replaces
    # shuffling the shingle frame TWICE into the join, and pairs are
    # born canonical (sorted posting list ⇒ anchor < every tail
    # element), so the pair aggregation sees half the rows and the
    # id_a < id_b filter disappears. Same mechanics as
    # graph.cooccurrence_edges' staged branch (measured ×0.7 there).
    # inter per pair = #shared shingles, identical to the join's count.
    def _staged_pairs(frame: DataFrame) -> DataFrame:
        sets = frame.groupBy("shingle").agg(
            F.sort_array(F.collect_list(id_col)).alias("__ps")
        )
        return (
            sets.select(F.col("__ps"), F.posexplode("__ps").alias("__i", "__x"))
            .select(
                F.col("__x").alias("id_a"),
                F.expr("slice(__ps, __i + 2, size(__ps))").alias("__t"),
            )
            .select("id_a", F.explode("__t").alias("id_b"))
        )

    # Round-14 (r13 verdict item 4, guide §2.5 skew): stats-driven
    # hot-shingle routing, the same two-branch hybrid (and the same
    # probe-first policy) as graph.cooccurrence_edges. The staged
    # expansion bounds pair-count work the same way an equi-join does
    # (hash partitioning lands a hot key's d² pairs in one task either
    # way) but ADDS two single-row costs the join shape never pays: the
    # collect_list materializes a d-element posting list as ONE row,
    # and each posexplode output row carries the full O(d) array — with
    # the default ``max_shingle_df=None`` (exact mode) a 100 TB
    # stop-phrase shingle would buffer O(d²) bytes in one task. The
    # probe is one partial-agged count over the pinned shingle frame
    # (~0.1-0.3s at sf0.1); clean corpora (max df ≤ threshold — every
    # test corpus) keep the single-path staged plan, and a corpus with
    # even one hot shingle routes JUST the hot shingles through the
    # AQE-splittable equi-join, streaming their pairs without ever
    # packing the posting list. Both branches produce the identical
    # (shingle, pair) multiset, so ``inter`` is unchanged — the route
    # is a pure cost/memory decision. ``max_shingle_df`` remains the
    # documented recall-trading cap on top.
    shingle_df = join_sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    max_df = shingle_df.agg(F.max("__df").alias("mx")).first()["mx"] or 0
    if max_df > HOT_SHINGLE_DF_THRESHOLD:
        hot_keys = shingle_df.filter(
            F.col("__df") > HOT_SHINGLE_DF_THRESHOLD
        ).select("shingle")
        cold = join_sh.join(F.broadcast(hot_keys), "shingle", "left_anti")
        hot = join_sh.join(F.broadcast(hot_keys), "shingle", "left_semi")
        hot_pairs = (
            hot.select("shingle", F.col(id_col).alias("id_a"))
            .join(hot.select("shingle", F.col(id_col).alias("id_b")), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        pairs = _staged_pairs(cold).unionByName(hot_pairs)
    else:
        pairs = _staged_pairs(join_sh)
    inter = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via shingle inverted index.

    Scale path and the ``max_shingle_df`` hot-shingle cap: see
    :func:`_shingle_pair_stats` (the shared backbone — Jaccard is the
    symmetric |A∩B|/|A∪B| member of the family; containment and
    overlap-coefficient are the other two).
    """
    stats = _shingle_pair_stats(df, id_col, text_col, k, max_shingle_df)
    jac = (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard")
    return stats.select("id_a", "id_b", jac).filter(F.col("jaccard") >= threshold)


def ngram_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs overlap coefficient |A∩B|/min(|A|,|B|) ≥ threshold —
    the symmetric-but-subset-sensitive third member of the Broder
    family: 1.0 whenever either document's shingles are a subset of
    the other's, regardless of the size ratio. Sits between Jaccard
    (penalizes size mismatch) and directed containment (asymmetric):
    use it to catch template instantiations where the shared core is
    one side's entirety. Same inverted-index backbone and
    ``max_shingle_df`` cap as the siblings (:func:`_shingle_pair_stats`).
    """
    stats = _shingle_pair_stats(df, id_col, text_col, k, max_shingle_df)
    ov = (F.col("inter") / F.least(F.col("n_a"), F.col("n_b"))).alias("overlap")
    return stats.select("id_a", "id_b", ov).filter(F.col("overlap") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| per direction,
    keeping pairs where either direction clears ``threshold``.

    Jaccard misses the long-doc-swallows-short-doc case (a paragraph
    pasted into a book scores near-zero Jaccard but containment 1.0
    from the paragraph's side) — the standard reason curation
    pipelines run containment alongside Jaccard (Broder's resemblance
    vs containment distinction). Same inverted-index join as
    ``ngram_jaccard_pairs``: only docs sharing a shingle meet, shuffle
    keyed on the shingle then the pair — no cross join at any scale.

    Short-doc contract: docs with 1 ≤ tokens < k contribute their whole
    text as ONE shingle (``pad_short``) — a sub-k-token doc pasted into
    a longer one is precisely the short-in-long case containment exists
    for, and with zero shingles it would be undetectable. (Jaccard /
    MinHash keep the no-shingle convention; their oracles match.)

    ``max_shingle_df`` mirrors :func:`ngram_jaccard_pairs`'s knob —
    see :func:`_shingle_pair_stats` for the cap semantics (reported
    containment becomes an underestimate; conservative precision).
    """
    stats = _shingle_pair_stats(
        df, id_col, text_col, k, max_shingle_df, pad_short=True
    )
    cont_a = F.col("inter") / F.col("n_a")
    cont_b = F.col("inter") / F.col("n_b")
    return (
        stats.filter(F.greatest(cont_a, cont_b) >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(cont_a, 6).alias("cont_a"),
            F.round(cont_b, 6).alias("cont_b"),
        )
    )


def jaccard_knn_graph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    knn: int = 3,
    floor: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Document k-NN graph by shingle Jaccard: (src, dst, rank, jaccard)
    keeping each doc's top-``knn`` neighbors above ``floor``.

    Candidate generation delegates to :func:`ngram_jaccard_pairs`, so it
    inherits the inverted-index join (only docs sharing a shingle meet —
    never corpus²) AND the ``max_shingle_df`` hot-shingle cap: a
    boilerplate shingle shared corpus-wide would otherwise detonate the
    candidate pair count quadratically at 100 TB. Ranking is a
    PER-SOURCE-PARTITIONED row_number (dst tiebreak pins order) — no
    global window. At 100 TB swap candidates to MinHash-LSH bands with
    the same downstream shape.
    """
    from pyspark.sql.window import Window

    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=floor, max_shingle_df=max_shingle_df
    ).select("id_a", "id_b", F.col("jaccard").alias("j"))
    und = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "j"
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "j")
    )
    w = Window.partitionBy("src").orderBy(F.col("j").desc(), F.col("dst"))
    return (
        und.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= knn)
        .select("src", "dst", "rank", F.round("j", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: num_hashes min-over-shingles of
    affine permutations of the portable md5-based shingle hash.

    One explode + one groupBy — the partial (map-side) min makes the
    shuffle tiny regardless of document size. The base hash is
    materialized as a column FIRST: Catalyst does not share
    subexpressions across aggregate expressions, so inlining it would
    compute md5 num_hashes× per shingle (measured 4× slowdown).
    """
    sh = shingle_sets(df, id_col, text_col, k_shingle)
    hashed = sh.select(F.col(id_col), md5_hash64(F.col("shingle")).alias("__h"))
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_perm_constants(num_hashes, seed))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _signature_bands(
    sh: DataFrame, id_col: str, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """(id, band_key) rows from a shingle frame: md5→int64 hash
    materialized as a column FIRST (no CSE across aggregate
    expressions — inlined it would run num_hashes× per shingle), then
    the per-permutation min signature, banded into ``bands`` composite
    keys. Shared by the batch pair join, the incremental probe, and
    the streaming stateful candidate generator."""
    rows = num_hashes // bands
    hashed = sh.select(F.col(id_col), md5_hash64(F.col("shingle")).alias("__h"))
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_perm_constants(num_hashes, seed))
    ]
    sig = hashed.groupBy(id_col).agg(*aggs)
    band_cols = [
        F.concat_ws(
            "_", F.lit(bi), *[F.col(f"mh{bi * rows + r}") for r in range(rows)]
        ).alias(f"band{bi}")
        for bi in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key")
    )


def band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Public (id, band_key) rows for LSH candidate generation — feed
    ``.groupBy("band_key")`` into
    ``streaming.stateful.streaming_band_candidates`` to maintain the
    banded index INSIDE a Structured Streaming checkpoint (no external
    corpus table).

    Computed ROW-WISE (shingle array → per-permutation ``array_min``
    of affine-transformed hashes): no aggregation at all, so it is
    legal on an unaggregated STREAMING DataFrame (a ``groupBy(id)``
    signature would be a streaming aggregation, which append mode
    rejects without a watermark and cannot chain into
    ``applyInPandasWithState``). Identical band keys to the batch
    ``_signature_bands`` (asserted in tests): min over the shingle
    multiset equals min over the set, and the hash/permutation math is
    shared. The hash array is materialized as a COLUMN first — 16
    ``array_min(transform(...))`` consumers referencing an inline
    subtree would re-run the md5 pass per permutation (the no-CSE
    trap, SCALING.md round-5 notes)."""
    rows = num_hashes // bands
    sh_arr = shingles_from_tokens(tokens(F.col(text_col)), k_shingle)
    base = (
        df.select(F.col(id_col), sh_arr.alias("__sh"))
        .filter(F.size("__sh") > 0)  # docs with < k tokens have no signature
        .withColumn(
            "__hs", F.transform(F.col("__sh"), lambda s: md5_hash64(s))
        )
    )
    def perm_min(a, b):
        # NB: closure factory, not default-arg lambda — extra defaulted
        # params change the HOF lambda's arity and get bound as the
        # element INDEX by the API
        return F.array_min(
            F.transform(
                F.col("__hs"), lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)
            )
        )

    mins = [
        perm_min(a, b).alias(f"mh{i}")
        for i, (a, b) in enumerate(_perm_constants(num_hashes, seed))
    ]
    sig = base.select(F.col(id_col), *mins)
    band_cols = [
        F.concat_ws(
            "_", F.lit(bi), *[F.col(f"mh{bi * rows + r}") for r in range(rows)]
        ).alias(f"band{bi}")
        for bi in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified by exact Jaccard.

    Banding: num_hashes/bands rows per band; docs sharing any band key
    become candidates (join on the band key — the classic
    shingle→minhash→band→bucket-join pipeline). Candidates are then
    verified with exact Jaccard so the threshold is exact, not
    probabilistic.
    """
    # The shingle set feeds both the signature and the verify pass, and
    # the candidate set feeds three consumers — persist at those reuse
    # boundaries so each shuffle runs once (broadcast subtrees do NOT
    # share work otherwise; without these persists the banding join
    # re-runs per consumer). On a cluster these are the natural
    # persist/checkpoint points as well.
    sh = shingle_sets(df, id_col, text_col, k_shingle).persist()
    # persist the band table: the candidate self-join reads it as BOTH
    # sides, and without a persist each side re-runs the whole
    # hash + 16-min-agg signature pipeline (the shingle cache only
    # covers the explode) — measured ~2× on the sf0.1 bench
    exploded = _signature_bands(sh, id_col, num_hashes, bands, seed).persist()
    a = exploded.select(F.col(id_col).alias("id_a"), "band_key")
    b = exploded.select(F.col(id_col).alias("id_b"), "band_key")
    candidates = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .persist()
    )
    # Candidates stay DISTRIBUTED (never collected to the driver — the
    # r1 2M-row collect serialized the whole pipeline through the
    # driver). The persist means the banding join runs once; each
    # downstream F.broadcast() consumer then reads the cached
    # partitions instead of re-running the join, and AQE downgrades the
    # broadcast if a pathological corpus makes candidates huge.

    return _verify_exact_jaccard(sh, candidates, id_col, threshold)


def _verify_exact_jaccard(
    sh: DataFrame, candidates: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify restricted to candidate documents only —
    near-dups are rare, so this shrinks the work from the whole corpus
    to the candidate set (the at-scale win: the banding join is cheap,
    pairwise verify is what must stay small). ``candidates`` must be
    persisted by the caller (it is consumed by multiple subtrees).

    Round-14 (guide §2.3/§2.4, r13 verdict item 3): the intersection
    counts come from the same staged pair expansion the shingle-pair
    backbone uses — ONE groupBy(shingle) over the candidate-restricted
    shingle frame replaces shuffling that frame TWICE into a
    self-join, and pairs are born canonical (sorted posting list ⇒
    anchor < every tail element) so the pair aggregation sees half the
    rows and the id_a < id_b filter disappears. The per-doc set size
    is broadcast-attached BEFORE the pack and carried through the
    expansion, which removes the two per-side broadcast size joins
    after the pair aggregation (n_sh is functionally determined by the
    id, so grouping by (id_a, n_a, id_b, n_b) is the same grouping).
    Same pairs, same `inter` counts, same jaccard doubles."""
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cand_ids), id_col).persist()
    sizes = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    packed = (
        sh_c.join(F.broadcast(sizes), id_col)
        .groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col("n_sh").alias("n"))
                )
            ).alias("__ps")
        )
    )
    pairs = (
        packed.select(F.col("__ps"), F.posexplode("__ps").alias("__i", "__x"))
        .select(
            F.col("__x"),
            F.expr("slice(__ps, __i + 2, size(__ps))").alias("__t"),
        )
        .select("__x", F.explode("__t").alias("__y"))
        .select(
            F.col("__x.i").alias("id_a"),
            F.col("__x.n").alias("n_a"),
            F.col("__y.i").alias("id_b"),
            F.col("__y.n").alias("n_b"),
        )
    )
    inter = (
        pairs.join(F.broadcast(candidates), ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard")
    return inter.select("id_a", "id_b", jac).filter(F.col("jaccard") >= threshold)


def minhash_lsh_incremental(
    df: DataFrame,
    id_col: str,
    text_col: str,
    new_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Micro-batch near-dup: pairs touching at least one NEW document
    (``new_col`` boolean) — new-vs-corpus and new-vs-new, never
    corpus×corpus.

    The banding join probes only new docs' band keys against the full
    banded index, so per-batch cost is O(batch · bands · bucket
    occupancy) regardless of corpus size. At production scale the
    corpus half of the index is precomputed and stored (signatures are
    pure functions of the text — see SCALING.md); here it derives
    inline from the same frame.
    """
    flags = df.select(F.col(id_col), F.col(new_col).alias("__new"))
    sh = shingle_sets(df, id_col, text_col, k_shingle).persist()
    banded = (
        _signature_bands(sh, id_col, num_hashes, bands, seed)
        .join(flags, id_col)
        .persist()
    )
    new_banded = banded.filter(F.col("__new"))
    candidates = (
        new_banded.select(F.col(id_col).alias("id_n"), "band_key")
        .join(banded.select(F.col(id_col).alias("id_o"), "band_key"), "band_key")
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .distinct()
        .persist()
    )
    return _verify_exact_jaccard(sh, candidates, id_col, threshold)


def full_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    threshold: float = 0.8,
    prefer_col: str | None = None,
) -> DataFrame:
    """The production dedup recipe (see SCALING.md): collapse EXACT
    copies first (linear — duplicates would otherwise explode the
    near-dup pair count quadratically), then MinHash-LSH near-dup the
    representatives, cluster, and keep one doc per component.

    Returns (doc_id, keep): every input doc id with a boolean keep
    decision. ``prefer_col``: higher value wins within a group
    (default: lowest id wins).
    """
    from pyspark.sql.window import Window

    fp = F.md5(normalize_text(F.col(text_col)))
    with_fp = df.select(F.col(id_col), F.col(text_col), fp.alias("__fp")).persist()
    reps = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    rep_docs = reps.join(with_fp, [id_col, "__fp"]).select(id_col, text_col)

    pairs = minhash_lsh_pairs(
        rep_docs, id_col, text_col, k_shingle=k_shingle, threshold=threshold
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("__comp_id"), "component"
    )
    members = rep_docs.join(
        comp, comp["__comp_id"] == rep_docs[id_col], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )
    order = (
        [F.col(prefer_col).desc(), F.col(id_col)] if prefer_col else [F.col(id_col)]
    )
    if prefer_col:
        members = members.join(df.select(id_col, prefer_col), id_col)
    w = Window.partitionBy("component").orderBy(*order)
    kept_reps = (
        members.withColumn("__rn", F.row_number().over(w))
        .select(id_col, (F.col("__rn") == 1).alias("keep"))
    )
    # non-representative exact copies are dropped; reps inherit the
    # component decision
    return (
        with_fp.select(F.col(id_col).alias("__all_id"), "__fp")
        .join(reps.select(F.col(id_col).alias("__rep_id"), "__fp"), "__fp")
        .join(kept_reps, F.col("__rep_id") == kept_reps[id_col])
        .select(
            F.col("__all_id").alias(id_col),
            (F.col("keep") & (F.col("__all_id") == F.col("__rep_id"))).alias("keep"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    on_nonconverged: str = "star",
) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    component) with component = min doc id reachable. This is the step
    that turns pairwise matches into dedup GROUPS (keep one doc per
    component).

    Iterative min-label propagation: each round joins labels to edges
    and takes the elementwise min; converged when no label changes.
    Rounds are O(diameter); near-dup graphs are tiny cliques, so a few
    rounds suffice. ``localCheckpoint`` cuts lineage growth so plans
    stay bounded — the standard Spark idiom for iterative algorithms.

    **Convergence guarantee**: a graph whose diameter exceeds
    ``max_iter`` (long transitive near-dup chains) would leave labels
    only partially propagated — measured on a 100×2000-node chain
    graph, 20 rounds return 198k bogus components instead of 100. So
    if the round budget runs out before a fixed point, the call
    finishes via :func:`connected_components_star` (O(log n) rounds
    regardless of diameter) instead of returning wrong groups;
    ``on_nonconverged='raise'`` turns that into an error for callers
    that want the budget to be a hard contract. Min-label stays the
    default because it is ~1.7× faster than star on the shallow
    clique-shaped graphs near-dup actually produces (SCALING.md,
    "Dedup" measurements).

    **Division of labor** (round-8 verdict item 5): this min-label
    variant is the ORACLE-REPLAYABLE one — its per-round update is a
    plain join+min that an external SQL engine can unroll round by
    round, and its round count on clique-shaped dedup graphs is 2-3,
    so it is the default every dedup call site reaches.
    :func:`connected_components_star` is the SCALE algorithm — the
    one to reach for (directly, or via the automatic non-convergence
    fallback above) when the graph's diameter is unknown or large,
    because its O(log n) round bound is diameter-independent. Both
    are pinned to identical outputs on chains, cliques, islands, and
    random graphs by ``tests/test_ops_extra.py::``
    ``test_star_components_match_label_propagation``.
    """
    if on_nonconverged not in ("star", "raise"):
        raise ValueError(
            f"on_nonconverged={on_nonconverged!r}: expected 'star' or 'raise'"
        )
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        if on_nonconverged == "raise":
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds (graph diameter exceeds the budget); rerun with "
                "a larger max_iter or use connected_components_star"
            )
        return connected_components_star(pairs, id_a=id_a, id_b=id_b)
    return labels.select(F.col("node").alias("doc_id"), "component")


def connected_components_star(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds — the O(log n)-round MapReduce formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), vs the
    O(diameter) rounds of plain min-label propagation
    (:func:`connected_components`).

    Per round: large-star hangs every strictly-larger neighbor of u
    onto min(Γ(u) ∪ u); small-star re-hangs the smaller-or-equal
    neighborhood. Each is one groupBy + one join; the edge set
    contracts toward stars rooted at component minima. Use this
    variant when near-dup graphs form long chains (transitive near-dup
    paths); for clique-like duplicate groups both converge in a couple
    of rounds.

    **Division of labor** (round-8 verdict item 5): this is the SCALE
    algorithm — diameter-independent round bound, the one a 100 TB
    corpus with unknown graph shape should run (and the one
    :func:`connected_components` automatically finishes through when
    its round budget runs out). Min-label remains the default at call
    sites because it is oracle-replayable (SQL-unrollable rounds) and
    ~1.7× faster on the shallow clique graphs dedup actually
    produces. The cross-test
    ``test_star_components_match_label_propagation`` pins both to
    identical components on adversarial fixture graphs.

    Returns (doc_id, component) with component = min reachable id.
    """
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )

    def _sym(d: DataFrame) -> DataFrame:
        return d.unionByName(
            d.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()

    edges = _sym(e).persist()
    prev_sig = None
    for _ in range(max_iter):
        # large-star: (v, m) for v ∈ Γ(u), v > u; m = min(Γ(u) ∪ {u})
        gmin = edges.groupBy("u").agg(F.min("v").alias("mv"))
        gmin = gmin.select("u", F.least("mv", F.col("u")).alias("m"))
        large = (
            edges.filter(F.col("v") > F.col("u"))
            .join(gmin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star over the large-star output
        ls = _sym(large)
        smin = (
            ls.filter(F.col("v") <= F.col("u"))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        small = (
            ls.filter(F.col("v") <= F.col("u"))
            .join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smin.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_edges = _sym(small).localCheckpoint(eager=True)
        # fixpoint check via one aggregation: (count, hash-sum) —
        # far cheaper than two exceptAll passes per round
        sig = tuple(
            new_edges.agg(
                F.count(F.lit(1)),
                # decimal sum: exact and overflow-free under ANSI mode
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).first()
        )
        edges.unpersist()
        edges = new_edges
        if sig == prev_sig:
            break
        prev_sig = sig
    labels = edges.groupBy("u").agg(F.min("v").alias("mv")).select(
        F.col("u").alias("node"), F.least("mv", F.col("u")).alias("component")
    )
    out = (
        nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )
    nodes.unpersist()
    return out


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash sketch per document over whitespace tokens.

    Per bit b: sign of sum over tokens of (+1 if bit b of the token
    hash is set else -1); sketch = the packed bit integer. Pure integer
    expressions (portable md5-based token hash) — oracle-reproducible.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    # hash materialized once — no CSE across aggregate expressions
    hashed = tok.select(F.col(id_col), md5_hash64(F.col("tok")).alias("__h"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_sums)
    packed = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return sums.select(F.col(id_col), packed.cast("bigint").alias("simhash"))


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 16,
) -> DataFrame:
    """Span-level exact dedup (Lee et al. 2021 'Deduplicating Training
    Data Makes Language Models Better', at chunk granularity): split
    each document into consecutive non-overlapping ``span_words``-word
    chunks, keep only the FIRST occurrence of each distinct chunk
    corpus-wide (ordered by doc id, then position), and reassemble the
    surviving chunks per document.

    Scale shape: one explode (rows = total chunks ≈ tokens/span_words),
    then the first occurrence per chunk is found with a MIN(struct)
    AGGREGATE — not a window. A window would sort each chunk's rows in
    one partition, so a pathological hot chunk (boilerplate shared by
    millions of docs) lands on one task; min() combines map-side and
    is skew-immune with identical semantics. One agg shuffle on the
    chunk key + one join back + one group-back on doc id. No driver
    materialization; at 100 TB replace the raw chunk string key with
    its 128-bit hash to shrink shuffle width (kept as text here so the
    oracle can compare).
    """
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    chunks = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(words, i * span_words + 1, span_words), " "
                ),
            )
        ).alias("pos", "chunk"),
    )
    first = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col).alias("fid"), F.col("pos").alias("fpos"))).alias(
            "first"
        )
    )
    ranked = chunks.join(first, "chunk").withColumn(
        "is_first",
        (F.col("first.fid") == F.col(id_col)) & (F.col("first.fpos") == F.col("pos")),
    )
    per_doc = ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk", "is_first"))),
                    lambda s: s["is_first"],
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return per_doc


def cc_incremental(
    state: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Merge an APPEND-ONLY batch of near-dup pairs into persisted
    connected-components state without re-running CC over the corpus —
    the group-level half of incremental dedup (the pair-level half is
    the batch-vs-corpus candidate join in `minhash_lsh_incremental` /
    `ngram_overlap` shapes). Returns ``(doc_id, component)`` EXACTLY
    equal to from-scratch :func:`connected_components` on the union
    pair set — the oracle replays the from-scratch build and the
    driver hash-compares.

    Why exact: ``state`` labels are CANONICAL (component = min doc id
    reachable, which is what every CC in this module emits). A new
    batch can only merge whole existing components (or mint singleton
    components for unseen docs), so lift each new pair to its
    endpoints' LABELS, run CC on that label graph — tiny: at most one
    edge per batch pair — and the merged label of a group of old
    labels is min(labels) = min doc id of the union component. One
    broadcast relabel join over ``state`` finishes the merge.

    Scale shape (maintain-vs-retrain): a from-scratch CC is O(log n)
    or O(diameter) rounds of CORPUS-wide shuffles; this merge is one
    batch-endpoint label lookup against state (broadcast of the small
    batch side), a CC over ≤|batch| label edges, and one broadcast map
    join — the corpus-sized state table is read once and shuffled
    never. Contract: append-only (pair retractions can SPLIT a
    component, which needs recomputing that component from its
    surviving pairs — not this operator)."""
    ends = (
        new_pairs.select(F.col(id_a).alias("n"))
        .unionByName(new_pairs.select(F.col(id_b).alias("n")))
        .distinct()
    )
    lab = (
        ends.join(state.withColumnRenamed("doc_id", "n"), "n", "left")
        .select("n", F.coalesce("component", F.col("n")).alias("lbl"))
        .persist()
    )
    label_edges = (
        new_pairs.select(id_a, id_b)
        .join(lab.select(F.col("n").alias(id_a), F.col("lbl").alias("la")), id_a)
        .join(lab.select(F.col("n").alias(id_b), F.col("lbl").alias("lb")), id_b)
        .select("la", "lb")
        .filter(F.col("la") != F.col("lb"))
        .distinct()
    )
    merge_map = connected_components(label_edges, id_a="la", id_b="lb").select(
        F.col("doc_id").alias("component"), F.col("component").alias("__merged")
    )
    nodes = state.unionByName(
        lab.select(F.col("n").alias("doc_id"), F.col("lbl").alias("component"))
    ).distinct()
    return nodes.join(F.broadcast(merge_map), "component", "left").select(
        "doc_id",
        F.coalesce("__merged", F.col("component")).alias("component"),
    )


def cc_decremental(
    state: DataFrame,
    post_pairs: DataFrame,
    retracted_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Merge a pair RETRACTION batch into persisted connected-components
    state — the tombstone half that closes :func:`cc_incremental`'s
    append-only contract. Returns ``(doc_id, component)`` EXACTLY equal
    to from-scratch :func:`connected_components` on ``post_pairs``.

    A retraction can SPLIT a component, and no label algebra can
    decide a split without looking at the surviving pairs — so this is
    a COMPONENT-LOCAL rebuild: the only components whose structure can
    have changed are those containing a retracted pair's endpoint
    (deletion never merges components, and a component none of whose
    pairs died keeps its exact min-id label). The merge therefore

    1. looks up the affected component labels (endpoints of the
       retracted batch against ``state`` — a broadcast of the small
       batch side),
    2. re-runs CC on the surviving pairs of THOSE components only
       (a pair's endpoints share a component by construction, so one
       endpoint membership test selects exactly the affected pairs),
    3. serves every other component's labels from ``state`` untouched.

    Docs whose last surviving pair died leave the output — same
    node-set semantics as the from-scratch build on ``post_pairs``
    (and the CC analogue of :func:`~..graph.pagerank_decremental`'s
    node retirement).

    Scale shape: state is read once and shuffled never; the CC rounds
    run over the affected components' pairs only — a daily tombstone
    batch rebuilds its own dedup groups, not the corpus's. Worst case
    (a retraction inside the corpus's one giant boilerplate component)
    degrades to that component's size, which is the same component the
    append path's cc_incremental would have built — the cost is
    bounded by the damage, never by the lake."""
    affected = (
        retracted_pairs.select(F.col(id_a).alias("doc_id"))
        .unionByName(retracted_pairs.select(F.col(id_b).alias("doc_id")))
        .distinct()
        .join(state, "doc_id")
        .select("component")
        .distinct()
    )
    member = state.join(F.broadcast(affected), "component", "left_semi").select(
        F.col("doc_id").alias("__m")
    )
    # a pair lives inside one component, so one endpoint test suffices
    touched = post_pairs.join(
        member.withColumnRenamed("__m", id_a), id_a, "left_semi"
    )
    rebuilt = connected_components(touched, id_a=id_a, id_b=id_b)
    kept = state.join(F.broadcast(affected), "component", "left_anti")
    return kept.unionByName(rebuilt)


def cc_apply_changes(
    state: DataFrame,
    post_pairs: DataFrame,
    added_pairs: DataFrame,
    retracted_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Apply a MIXED near-dup pair changefeed (appends AND
    retractions in one batch) to persisted connected-components
    state — exactly equal to from-scratch :func:`connected_components`
    on ``post_pairs``, by composing the two exact halves: the
    retraction's component-local rebuild runs first on the
    pre-addition survivors (``post_pairs`` minus the added batch, so
    the rebuild sees exactly the base-minus-retracted pair set), then
    the append's label-graph merge folds the added pairs in. Deletion
    can only split, addition can only merge, and both halves are
    individually exact against their own from-scratch targets, so the
    composition is exact against the post-change target. Cost: the
    affected components' pairs (retraction half) + |added| label
    edges (append half) — state shuffles never."""
    mid_pairs = post_pairs.join(
        added_pairs.select(id_a, id_b), [id_a, id_b], "left_anti"
    )
    mid_state = cc_decremental(
        state, mid_pairs, retracted_pairs, id_a=id_a, id_b=id_b
    )
    return cc_incremental(mid_state, added_pairs, id_a=id_a, id_b=id_b)


def cc_maintain(
    state: DataFrame,
    post_pairs: DataFrame,
    added_pairs: DataFrame | None = None,
    retracted_pairs: DataFrame | None = None,
    damage_threshold_pct: int = 50,
    mode: str = "auto",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Stats-driven routing entry point for connected-components
    maintenance — the CC sibling of ``graph.pagerank_maintain``
    (round-12, closing the round-11 asymmetry): every path returns
    ``(doc_id, component)`` EXACTLY equal to from-scratch
    :func:`connected_components` on ``post_pairs``, so the route is a
    pure cost decision, and the cost depends on a DATA property no
    caller should have to know — the retraction DAMAGE fraction (the
    share of corpus docs living in components a retracted pair
    touches, the signal ``g_cc_damage_curve`` registers as
    oracle-paired data).

    Why the probe looks at retractions only: the APPEND half
    (:func:`cc_incremental`) runs CC over at most ``|added|`` label
    edges plus one broadcast relabel — bounded by the batch, it
    cannot lose to a corpus-wide retrain, so a pure-append batch
    routes to the merge with ZERO probe jobs. The RETRACTION half
    (:func:`cc_decremental`) rebuilds the affected components from
    their surviving pairs — cost bounded by the damage, and when the
    damage fraction approaches the corpus (one giant boilerplate
    component, or a tombstone wave touching most groups) the rebuild
    IS a retrain plus the bookkeeping to find that out. Measured at
    sf0.1 (SCALING.md round 11): at a 20% tombstone batch the
    component-local path costs 1.58s vs 0.87s for a from-scratch CC —
    which is exactly the regime the threshold catches.

    ``mode='auto'`` (default) probes the damage fraction with two
    bounded jobs at construction time — one broadcast lookup of the
    retracted endpoints' components and a members count, one state
    count; no CC rounds — and picks the retrain (with a warning, so
    silent plan changes can't happen) when
    ``100 * n_docs_affected > damage_threshold_pct * n_docs``. The
    damage fraction is exactly the share of state the decremental
    path would rebuild, so the probe measures the merge's own cost
    bound, not a proxy. ``mode='merge'`` / ``mode='retrain'`` force a
    path with zero probe jobs (plan-only contexts).

    Batch shapes: both ``added_pairs`` and ``retracted_pairs`` given
    → the merge path is :func:`cc_apply_changes`; retractions only →
    :func:`cc_decremental`; appends only → :func:`cc_incremental`
    (``post_pairs`` is still required — it is what the retrain path
    and the retraction rebuild read, and the exactness contract is
    stated against it)."""
    if mode not in ("auto", "merge", "retrain"):
        raise ValueError(f"mode must be auto|merge|retrain, got {mode!r}")
    if added_pairs is None and retracted_pairs is None:
        raise ValueError("cc_maintain: need added_pairs and/or retracted_pairs")

    def _merge() -> DataFrame:
        if added_pairs is not None and retracted_pairs is not None:
            return cc_apply_changes(
                state, post_pairs, added_pairs, retracted_pairs,
                id_a=id_a, id_b=id_b,
            )
        if retracted_pairs is not None:
            return cc_decremental(
                state, post_pairs, retracted_pairs, id_a=id_a, id_b=id_b
            )
        return cc_incremental(state, added_pairs, id_a=id_a, id_b=id_b)

    if mode == "merge":
        return _merge()
    if mode == "retrain":
        return connected_components(post_pairs, id_a=id_a, id_b=id_b)
    if retracted_pairs is None:
        # pure append: the label-graph merge is batch-bounded by
        # construction — no data property can make retrain cheaper
        return _merge()

    affected = (
        retracted_pairs.select(F.col(id_a).alias("doc_id"))
        .unionByName(retracted_pairs.select(F.col(id_b).alias("doc_id")))
        .distinct()
        .join(state, "doc_id")
        .select("component")
        .distinct()
    )
    n_affected_docs = (
        state.join(F.broadcast(affected), "component", "left_semi").count()
    )
    n_docs = state.count()
    if n_docs and 100 * n_affected_docs > damage_threshold_pct * n_docs:
        import warnings

        warnings.warn(
            f"cc_maintain: damage fraction {n_affected_docs}/{n_docs} "
            f"exceeds {damage_threshold_pct}% — routing to full retrain "
            "(the component-local rebuild would touch most of the state "
            "anyway, and the retrain skips its bookkeeping)",
            stacklevel=2,
        )
        return connected_components(post_pairs, id_a=id_a, id_b=id_b)
    return _merge()
