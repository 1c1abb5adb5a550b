"""Custom stateful streaming operators (`applyInPandasWithState`).

The engine's micro-batch pipeline covers the reference's semantics via
`foreachBatch` + state table; this module adds arbitrary user state
ACROSS micro-batches — the Structured Streaming primitive for
operators the built-in windowed aggregations can't express
(running dedup, per-key counters with custom eviction, incremental
sketches). State lives in the checkpoint, partitioned by key, so it
scales horizontally with executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_COUNT_SCHEMA = "key string, batch_rows bigint, total_rows bigint"
SEEN_FILTER_SCHEMA = "key string, fresh_values array<string>"


def _running_count(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key running row count across micro-batches."""
    batch = sum(len(p) for p in pdfs)
    (total,) = state.get if state.exists else (0,)
    total += batch
    state.update((total,))
    yield pd.DataFrame({"key": [key[0]], "batch_rows": [batch], "total_rows": [total]})


def running_count(grouped, key_col: str = "key") -> DataFrame:
    """Streaming running counter per key: the canonical
    applyInPandasWithState shape (state schema declared, timeout off)."""
    return grouped.applyInPandasWithState(
        _running_count,
        outputStructType=RUNNING_COUNT_SCHEMA,
        stateStructType="total bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _seen_filter(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming exact dedup: emit only values never seen for this key;
    remember everything seen (state = the seen-set)."""
    seen = set(state.get[0]) if state.exists else set()
    fresh: list[str] = []
    for p in pdfs:
        for v in p["value"]:
            if v not in seen:
                seen.add(v)
                fresh.append(v)
    state.update((list(seen),))
    yield pd.DataFrame({"key": [key[0]], "fresh_values": [fresh]})


def streaming_dedup(grouped) -> DataFrame:
    """Cross-batch exact dedup per key — the streaming counterpart of
    ``operators.dedup.exact_dedup`` (state carries the seen-set; at
    scale the set becomes a bloom filter or minhash sketch, same
    operator shape)."""
    return grouped.applyInPandasWithState(
        _seen_filter,
        outputStructType=SEEN_FILTER_SCHEMA,
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BAND_CANDIDATES_SCHEMA = "id_a bigint, id_b bigint, band_key string"


#: per-band state cap: a band holding this many docs is a HOT bucket —
#: its signature carries no discriminative signal (every doc pairs with
#: every doc), and unbounded per-key state is the canonical streaming
#: failure mode. Over the cap the band stops generating candidates and
#: stops growing — the same reasoning as the batch pipeline's
#: hot-shingle document-frequency cap.
DEFAULT_MAX_BAND_OCCUPANCY = 256


def _make_band_candidates(max_occupancy: int):
    def _band_candidates(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-band LSH candidate generation: state = the doc ids whose
        signatures landed in this band so far; each new arrival emits a
        candidate pair against every stored id, then joins the state.
        A band at ``max_occupancy`` is frozen (no pairs, no growth).

        Replay-safe: an id already in state (at-least-once redelivery,
        duplicate rows in a batch) is skipped entirely — it neither
        re-emits its candidate pairs nor gets stored twice, so replays
        cannot inflate state toward the occupancy cap or duplicate
        candidates (round-5 advice)."""
        seen = list(state.get[0]) if state.exists else []
        seen_set = set(seen)
        new_ids = []
        for p in pdfs:
            for v in p["doc_id"]:
                new_ids.append(int(v))
        out_a: list[int] = []
        out_b: list[int] = []
        for nid in new_ids:
            if nid in seen_set:
                continue  # at-least-once replay / in-batch duplicate
            if len(seen) >= max_occupancy:
                break
            for old in seen:
                out_a.append(min(old, nid))
                out_b.append(max(old, nid))
            seen.append(nid)
            seen_set.add(nid)
        state.update((seen,))
        yield pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "band_key": [key[0]] * len(out_a)}
        )

    return _band_candidates


def streaming_band_candidates(
    grouped, max_band_occupancy: int = DEFAULT_MAX_BAND_OCCUPANCY
) -> DataFrame:
    """Streaming MinHash-LSH candidate generation with the banded index
    IN THE CHECKPOINT: feed `operators.dedup.band_keys(batch_stream)`
    grouped by band_key; each micro-batch emits candidate pairs of new
    docs against everything previously seen in the same band — the
    incremental-LSH cost model (O(batch · bands · bucket occupancy),
    never corpus²) without any external corpus table, because the
    banded index IS the streaming state (partitioned by band key, so
    it scales horizontally and survives restarts via the checkpoint).

    Pairs sharing several bands are emitted once per shared band —
    downstream `.dropDuplicates(["id_a","id_b"])` (or the exact-Jaccard
    verify join, which is keyed on the pair) collapses them.
    ``max_band_occupancy`` bounds per-key state: a band that fills up
    is frozen — hot buckets generate quadratic candidates with no
    discriminative signal, and unbounded keyed state is the canonical
    streaming failure mode.
    """
    return grouped.applyInPandasWithState(
        _make_band_candidates(max_band_occupancy),
        outputStructType=BAND_CANDIDATES_SCHEMA,
        stateStructType="seen array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GAP_SESSIONS_SCHEMA = (
    "key string, session_start_ns bigint, session_end_ns bigint, n_events bigint"
)


def _make_gap_sessions(gap_ns: int):
    def _gap_sessions(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Event-time gap sessionization across micro-batches: the open
        session (start, last, n) lives in state; a new event further
        than gap_ns from the session's last event CLOSES it (emitted)
        and opens a new one. Emits closed sessions only — append-mode
        safe; the still-open session survives in the checkpoint until
        a later batch (or a timer, in the production variant) closes
        it."""
        ts: list[int] = []
        for p in pdfs:
            ts.extend(int(x) for x in p["ts"])
        ts.sort()
        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple] = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap_ns:
                last, n = t, n + 1
            else:
                closed.append((key[0], start, last, n))
                start, last, n = t, t, 1
        state.update((start, last, n))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["key", "session_start_ns", "session_end_ns", "n_events"],
            )

    return _gap_sessions


def gap_sessions(grouped, gap_ns: int = 1_000_000_000) -> DataFrame:
    """Streaming gap-based session windows via applyInPandasWithState:
    per-key sessions close after ``gap_ns`` of event-time inactivity
    and are emitted as (start, end, n_events) rows; the open session is
    checkpointed state, so sessions MERGE across micro-batches (the
    property a stateless per-batch sessionizer gets wrong). Batch twin:
    the lag()-based `q_sessionize` registry query — same session
    boundaries, computed with a window function when the data is at
    rest. Production note: close idle sessions with an event-time
    timer + watermark (EventTimeTimeout) so the last session of a key
    eventually flushes; this variant keeps NoTimeout so the semantics
    are exactly replayable in tests."""
    return grouped.applyInPandasWithState(
        _make_gap_sessions(gap_ns),
        outputStructType=GAP_SESSIONS_SCHEMA,
        stateStructType="start bigint, last bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HLL_DISTINCT_SCHEMA = (
    "key string, batch_rows bigint, estimate_distinct bigint, registers_set bigint"
)


def hll_sketch_update(regs: list[int], values, p: int = 6) -> list[int]:
    """Fold ``values`` into an HLL register array (pure function, no
    Spark) — the register update is the MERGEABLE core: max per
    register, so batch-wise folding equals one-shot folding (the
    invariant the streaming test asserts). Hash is an independent
    64-bit md5-prefix hash (first 16 hex chars of md5(str(v)) — NOT
    ``operators/dedup.md5_hash64``, which takes only the first 8 hex
    chars / 32 bits), so the sketch is engine- and restart-stable;
    the batch-replay twin `t_streaming_mg_replay`'s sibling
    `t_streaming_hll_replay` reproduces exactly this hash from SQL
    halves (hi/lo 32-bit md5 prefixes)."""
    import hashlib

    m = 1 << p
    for v in values:
        h = int(hashlib.md5(str(v).encode("utf-8")).hexdigest()[:16], 16)
        idx = h & (m - 1)
        w = h >> p
        width = 64 - p
        rho = (width - w.bit_length() + 1) if w else (width + 1)
        if rho > regs[idx]:
            regs[idx] = rho
    return regs


def hll_estimate(regs: list[int], p: int = 6) -> int:
    """Flajolet et al. estimate with the small-range linear-counting
    correction — integer-rounded so the emitted metric is stable.

    The harmonic denominator is accumulated as an EXACT integer
    (sum of 2^(maxrho - r), arbitrary precision) and converted to
    double once, instead of a float sum of 2^-r terms: a float sum
    whose register values span more than 53 bits of magnitude rounds,
    and rounds DIFFERENTLY under different summation orders — which
    would make the estimate depend on register iteration order and be
    irreproducible from SQL. With the integer path the whole estimate
    is a fixed sequence of IEEE ops on deterministic inputs, so the
    batch-replay oracle query (`t_streaming_hll_replay`) reproduces it
    bit-for-bit in DuckDB (HUGEINT sum → one cast → same divides;
    Python round() and DuckDB CAST(double AS BIGINT) are both
    ties-to-even)."""
    m = 1 << p
    sb = 64 - p + 1  # max possible rho, so every 2^(sb - r) is an int
    inv_scaled = sum(1 << (sb - r) for r in regs)
    inv = float(inv_scaled) / float(1 << sb)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = alpha * m * m / inv
    zeros = sum(1 for r in regs if r == 0)
    if est <= 2.5 * m and zeros > 0:
        # linear counting m*ln(m/zeros), but via the PORTABLE integer
        # ln (functions/portable_math) as ln(m) - ln(zeros): the
        # engines' native ln differs from Python's libm by an ulp on
        # some inputs, which right before integer rounding is exactly
        # the cross-engine divergence class the determinism contract
        # bans (round-8 advice) — this keeps the Python fold, the
        # Spark replay, and the DuckDB oracle a single fixed sequence
        # of correctly rounded IEEE ops
        from ..functions.portable_math import ln_posint_py

        est = m * (ln_posint_py(m) - ln_posint_py(zeros))
    return int(round(est))


def _make_hll_distinct(p: int = 6):
    m = 1 << p

    def _hll_distinct(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        regs = list(state.get[0]) if state.exists else [0] * m
        batch = 0
        for pdf in pdfs:
            batch += len(pdf)
            regs = hll_sketch_update(regs, pdf["value"], p=p)
        state.update((regs,))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "batch_rows": [batch],
                "estimate_distinct": [hll_estimate(regs, p=p)],
                "registers_set": [sum(1 for r in regs if r > 0)],
            }
        )

    return _hll_distinct


def streaming_hll_distinct(grouped, p: int = 6) -> DataFrame:
    """Streaming approximate-distinct monitor per key: a HyperLogLog
    register array lives in the checkpoint and merges each
    micro-batch by register max — the incremental-sketch shape
    (bounded state: 2^p bytes-ish per key FOREVER, vs the unbounded
    set a naive distinct monitor keeps; at p=6 each key costs 64
    ints regardless of stream length). Emits the running distinct
    estimate after every batch. Register updates are order- and
    batching-invariant (max is commutative/associative/idempotent),
    so replay after checkpoint recovery converges to the same sketch
    — the exactly-once-effect argument the running-count test makes,
    here for a NON-ADDITIVE aggregate. Batch twin: `q_hll_sketch` in
    the registry (same register math at rest)."""
    return grouped.applyInPandasWithState(
        _make_hll_distinct(p),
        outputStructType=HLL_DISTINCT_SCHEMA,
        stateStructType="regs array<int>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HEAVY_HITTERS_SCHEMA = (
    "key string, batch_rows bigint, item string, lower_bound bigint"
)


def mg_sketch_update(counters: dict, values, k: int = 8) -> dict:
    """Misra-Gries fold (pure function, no Spark): maintain at most
    ``k - 1`` counters; a value not tracked when the table is full
    decrements EVERY counter (dropping zeros) instead of entering.
    Guarantee: any item with true frequency > n/k survives, and each
    counter lower-bounds the true count within n/k. Deterministic for
    a given value order; the streaming wrapper feeds batches in
    arrival order, and the error bound (not the exact counter values)
    is the merge-stable contract the test asserts."""
    for v in values:
        v = str(v)
        if v in counters:
            counters[v] += 1
        elif len(counters) < k - 1:
            counters[v] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


def _make_heavy_hitters(k: int = 8):
    def _hh(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts = state.get
            counters = dict(zip(list(items), list(counts)))
        else:
            counters = {}
        batch = 0
        for pdf in pdfs:
            batch += len(pdf)
            counters = mg_sketch_update(counters, pdf["value"], k=k)
        state.update((list(counters.keys()), [int(c) for c in counters.values()]))
        out = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(out),
                "batch_rows": [batch] * len(out),
                "item": [i for i, _ in out],
                "lower_bound": [c for _, c in out],
            }
        )

    return _hh


def streaming_heavy_hitters(grouped, k: int = 8) -> DataFrame:
    """Streaming heavy-hitters monitor per key via the Misra-Gries
    sketch: at most ``k - 1`` counters per key live in the checkpoint
    FOREVER (vs the unbounded map a naive counter keeps), and any item
    whose true frequency exceeds n/k is guaranteed present with a
    count under-estimating truth by at most n/k — the deterministic
    counter sibling of `streaming_hll_distinct` (HLL answers 'how
    many distinct', this answers 'which values dominate'). Emits the
    surviving counters after each micro-batch, most-frequent first.
    Batch twin: `q_countmin_sketch` / `q_topk_orders` at rest."""
    return grouped.applyInPandasWithState(
        _make_heavy_hitters(k),
        outputStructType=HEAVY_HITTERS_SCHEMA,
        stateStructType="items array<string>, counts array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_DISTINCT_SCHEMA = (
    "key string, batch_rows bigint, kmv_est bigint, sketch_size bigint"
)


def kmv_update(hashes: list[int], values, k: int = 64) -> list[int]:
    """K-minimum-values fold (pure function, no Spark): keep the ``k``
    smallest 32-bit md5-prefix hashes of the distinct values seen.
    The hash is ``int(md5(str(v))[:8], 16)`` — byte-identical to
    ``operators/dedup.md5_hash64`` and to the SQL spelling
    ``('0x' || substr(md5(v), 1, 8))::BIGINT``, so the sketch state is
    engine-replayable. Min-k of a union is commutative, associative
    and idempotent over insertion order and batch boundaries (any hash
    in the true k minima is in every batch-wise merge's k minima), so
    batch-wise folding equals one-shot folding — the same mergeability
    class as the HLL register max, with the extra property that SET
    ALGEBRA works downstream (`corpus.kmv_sketch`'s union/intersection
    estimates read this exact state)."""
    import hashlib

    s = set(hashes)
    for v in values:
        s.add(int(hashlib.md5(str(v).encode("utf-8")).hexdigest()[:8], 16))
    return sorted(s)[:k]


def kmv_estimate(hashes: list[int], k: int = 64) -> int:
    """Distinct estimate from the sketch: exact size while the sketch
    is unsaturated, else ``(k-1)·2³² div max(h_k, 1)`` — pure int64
    arithmetic (Bar-Yossef et al. 2002), replayed verbatim by the SQL
    oracle. The divisor clamp guards the p≈2⁻³² value whose md5
    prefix is 00000000 (h=0): once such a hash is the k-th minimum an
    unclamped divide raises — the Spark/DuckDB twins spell the same
    ``greatest(h_k, 1)`` so the parity contract survives the clamp."""
    if len(hashes) < k:
        return len(hashes)
    return (k - 1) * 4294967296 // max(hashes[k - 1], 1)


def _make_kmv_distinct(k: int = 64):
    def _kmv(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        hashes = list(state.get[0]) if state.exists else []
        batch = 0
        for pdf in pdfs:
            batch += len(pdf)
            hashes = kmv_update(hashes, pdf["value"], k=k)
        state.update((hashes,))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "batch_rows": [batch],
                "kmv_est": [kmv_estimate(hashes, k=k)],
                "sketch_size": [len(hashes)],
            }
        )

    return _kmv


def streaming_kmv_distinct(grouped, k: int = 64) -> DataFrame:
    """Streaming KMV (theta-sketch) distinct monitor per key: the k
    smallest value hashes live in the checkpoint (k·8 bytes per key
    FOREVER) and emit a running distinct estimate after every
    micro-batch. Relative to `streaming_hll_distinct` this costs more
    state per key (64 longs vs 64 small ints) but buys exact-integer
    arithmetic end to end (no float harmonic mean, no linear-counting
    ln branch) AND mergeable set algebra: two keys' checkpointed
    sketches intersect/union at rest via `corpus.kmv_sketch`'s
    estimators without touching the stream. Batching-invariant by the
    min-k argument on `kmv_update`, so the batch replay
    (`t_streaming_kmv_replay`) reproduces the converged state exactly
    for ANY batching. Batch twin: `t_kmv_distinct_tokens` at rest."""
    return grouped.applyInPandasWithState(
        _make_kmv_distinct(k),
        outputStructType=KMV_DISTINCT_SCHEMA,
        stateStructType="hashes array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
