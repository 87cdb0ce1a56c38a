"""Broadcast Bloom-filter join pruning — the 100 TB semi-join pattern.

Why this matters at scale: a selective semi-join (``fact WHERE key IN
(SELECT key FROM dim WHERE …)``) normally shuffles EVERY fact row on the
join key, including the overwhelming majority that will not match. A
Bloom filter built over the small side's keys is a fixed-size bitmap
(m bits regardless of key count) that can be broadcast to every
executor and probed per fact row with two hashes and two array loads —
rows that fail the probe are dropped at the SCAN stage and never enter
the shuffle. False positives (a tunable few ‰) are removed by the real
join afterwards, so the final result is EXACT; false negatives are
impossible by construction. This is the same idea as Spark's own
runtime-filter injection (InjectRuntimeFilter / BloomFilterMightContain,
not SQL-registered in 4.x, hence this DataFrame-native build) and the
reference engine's DuckDB perfect-hash-join pruning.

Everything here is whole-stage-codegen friendly: the bitmap is an
``array<bigint>`` of m/64 words broadcast on a single row; a probe is
``element_at`` (O(1) ordinal access on ArrayData) + bitwise AND. No
Python, no UDFs, no per-row map scans (the sparse→dense conversion pays
the one O(words × entries) map walk ONCE on one row at build time so
that the per-fact-row probe never does).

Determinism: positions come from seeded ``xxhash64``, so the same keys
always yield the same bitmap; since the trailing exact join removes all
false positives, registry results carry a full cross-engine hash oracle
(the oracle is the plain semi-join — bloom pruning is semantically
invisible, which is exactly the point).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: floor bitmap width (bits) for explicit callers; auto-sizing (the
#: default) starts here. 2^16 bits = 8 KiB — with k=2 hashes and
#: n=2 000 keys the false-positive rate is (1-e^{-kn/m})^k ≈ 0.35 %.
DEFAULT_NUM_BITS = 1 << 16
DEFAULT_NUM_HASHES = 2


def _positions(key: Column, num_bits: int, num_hashes: int, seed: int) -> list[Column]:
    """k bit positions for a key: pmod(xxhash64(key, seed+i), m)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(seed + i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def _word_and_mask(pos: Column) -> tuple[Column, Column]:
    """(word index, single-bit mask) for a bit position."""
    word = (pos / F.lit(64)).cast("int")
    mask = _shiftleft_one(F.pmod(pos, F.lit(64)).cast("int"))
    return word, mask


def bloom_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = 0,
) -> DataFrame:
    """ONE-row DataFrame ``(bf: array<bigint>)`` — the dense bitmap.

    Build plan: explode each key into its k (word, mask) pairs, bit_or
    the masks per word (one shuffle over ≤ m/64 + distinct-key-bounded
    rows — tiny), then densify: left-join the sparse words onto the
    full 0..nwords-1 word range (zero-filling gaps), collect the
    (word, mask) structs onto one row, ``array_sort`` them (struct
    ordering is field-order, so word is the sort key), and project the
    masks. O(nwords log nwords) on the single result row — the earlier
    map-based densify probed a ``map`` per word, and ``element_at`` on
    Spark's ArrayBasedMapData is a LINEAR key scan, making the build
    O(nwords²): ~4×10⁹ comparisons at m=2²² (65 k words), minutes on
    one core. The sort-based build is milliseconds at any m this
    module allows (cap 2²⁷ → 2 M words).
    """
    nwords = (num_bits + 63) // 64
    pos = F.explode(
        F.array(*_positions(F.col(key_col), num_bits, num_hashes, seed))
    ).alias("__pos")
    sparse = keys.select(pos)
    word, mask = _word_and_mask(F.col("__pos"))
    words = sparse.select(word.alias("__w"), mask.alias("__m")).groupBy("__w").agg(
        F.bit_or("__m").alias("__m")
    )
    spark = keys.sparkSession
    full = spark.range(nwords).select(F.col("id").cast("int").alias("__w"))
    filled = full.join(words, "__w", "left").select(
        "__w", F.coalesce("__m", F.lit(0).cast("long")).alias("__m")
    )
    dense = filled.agg(
        F.array_sort(F.collect_list(F.struct("__w", "__m"))).alias("__s")
    ).select(F.transform("__s", lambda e: e["__m"]).alias("bf"))
    return dense


def bloom_might_contain(
    bf: Column,
    key: Column,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = 0,
) -> Column:
    """Probe predicate: every hashed bit set in the bitmap.

    k × (element_at + AND + compare) per row, all codegen'd; no map
    scans, no joins. NULL-key caveat: ``xxhash64`` SKIPS null children,
    so a NULL key hashes to the same fixed position set as the bare
    seed literal and the probe returns a deterministic NON-NULL
    boolean (empirically false unless the seed-only positions happen
    to be set) — it does NOT propagate NULL. Callers must therefore
    never use a probe result alone to decide match/no-match for NULL
    keys; exactness in the pruning joins below relies solely on the
    trailing exact joins, which enforce real null semantics."""
    out = F.lit(True)
    for pos in _positions(key, num_bits, num_hashes, seed):
        word = (pos / F.lit(64)).cast("int")
        mask = _shiftleft_one(F.pmod(pos, F.lit(64)).cast("int"))
        hit = F.element_at(bf, word + F.lit(1)).bitwiseAND(mask) == mask
        out = out & hit
    return out


def _shiftleft_one(bits: Column) -> Column:
    """``1L << bits`` with a COLUMN shift amount — F.shiftleft only
    takes a literal int, the SQL function accepts expressions."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), bits)


def _auto_num_bits(n_keys: int) -> int:
    """m = 16·n rounded up to a power of two (FPR ≈ 1.4 % at k=2),
    floored at 64 Kib, capped at 2^27 bits (16 MiB broadcast)."""
    return 1 << max(16, min(27, (16 * max(n_keys, 1) - 1).bit_length()))


def auto_filter_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "semi",
    broadcast_max_rows: int = 1_000_000,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = 0,
) -> DataFrame:
    """Planner for exact ``big SEMI/ANTI JOIN small ON key`` that picks
    the physical strategy from the BUILD side's row count — the
    automatic counterpart of the reference engine's perfect-hash join
    pruning (DuckDB applies it without being asked; callers here should
    not need to know bloom_prune_* exists either).

    The build side's row count (one O(small) count job) decides:
    - at most ``broadcast_max_rows``: broadcast the distinct build
      keys and let Catalyst plan a Broadcast{HashJoin} — no fact-side
      shuffle at all, the cheapest possible shape when the build side
      fits (the 1M default is ~8 MB of bigint keys; size the threshold
      to executor memory at cluster scale).
    - otherwise: Bloom-pruned join (:func:`bloom_prune_semi_join` /
      :func:`bloom_prune_anti_join`) with the bitmap sized from that
      count by ``_auto_num_bits`` — the fixed-size broadcastable filter
      drops (semi) or proves-clean (anti) the bulk of the fact side
      before the exact shuffle that guarantees the result.

    Both branches return the EXACT join result (plan shape is
    semantically invisible — pinned by the q_auto_filter_join oracle
    entry and tests/test_bloom_countmin_spans.py plan pins)."""
    if how not in ("semi", "anti"):
        raise ValueError(f"how must be 'semi' or 'anti', got {how!r}")
    build_rows = small.select(key).count()
    if build_rows <= broadcast_max_rows:
        keys = F.broadcast(small.select(key).distinct())
        return big.join(keys, key, f"left_{how}")
    num_bits = _auto_num_bits(build_rows)
    prune = bloom_prune_semi_join if how == "semi" else bloom_prune_anti_join
    return prune(big, small, key, num_bits=num_bits, num_hashes=num_hashes, seed=seed)


def bloom_prune_semi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    num_bits: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = 0,
) -> DataFrame:
    """EXACT ``big SEMI JOIN small ON key`` with Bloom pre-pruning.

    1. build the bitmap over ``small``'s keys (fixed m bits);
    2. crossJoin(broadcast(bitmap)) onto ``big`` — a broadcast of ONE
       row, never a scaling side — and keep rows passing the probe;
    3. exact LEFT SEMI join removes the false positives.

    ``num_bits`` must grow with the build side (``auto_filter_join``
    sizes it with ``_auto_num_bits``): a saturated fixed-size bitmap
    (e.g. 60 k keys in 64 Kib → FPR ≈ 70 %) still returns EXACT results
    but prunes almost nothing, which is exactly how an un-sized bloom
    would misbehave at 100 TB.

    At cluster scale only the bloom-surviving fraction of ``big`` is
    shuffled by step 3; with a selective ``small`` that is the
    difference between shuffling 100 TB and shuffling a few hundred GB.
    The plan stays correct at ANY false-positive rate, so sizing m is
    purely a performance knob (the sized bitmap is 16·n bits, 8 KiB
    floor / 16 MiB cap — always broadcast-cheap).

    The always-true ``monotonically_increasing_id() >= 0`` guard
    between the probe and the exact join is a deliberate optimizer
    fence: Catalyst's PushDownLeftSemiAntiJoin otherwise hoists the
    exact semi join below the probe filter (semi joins are pushed
    toward the scan), which executes the join FIRST and turns the
    bloom prune into a post-join no-op. Optimizer rules do not cross
    nondeterministic filters, so the fence pins probe-before-join; it
    keeps every row (correctness-neutral) and costs one counter read
    per SURVIVING row. (``rand(seed) > -1`` does NOT work: Spark 4
    range-folds rand comparisons to true and the fence vanishes.) The
    ordering is pinned in tests/test_bloom_countmin_spans.py.
    """
    bf = bloom_build(small.select(key), key, num_bits, num_hashes, seed)
    pruned = (
        big.crossJoin(F.broadcast(bf))
        .where(bloom_might_contain(F.col("bf"), F.col(key), num_bits, num_hashes, seed))
        .drop("bf")
        .where(F.monotonically_increasing_id() >= F.lit(0))
    )
    return pruned.join(small.select(key).distinct(), key, "left_semi")


def bloom_prune_anti_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    num_bits: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = 0,
) -> DataFrame:
    """EXACT ``big ANTI JOIN small ON key`` with Bloom pre-partition —
    the decontamination-at-scale pattern (drop every corpus row whose
    key appears in a benchmark/block list too big to broadcast).

    The Bloom direction flips for anti joins: a row that FAILS the
    probe is *provably* absent from ``small`` (no false negatives), so
    it is emitted directly with no join at all; only the
    probe-PASSING fraction — true matches plus the few-% false
    positives — pays the exact LEFT ANTI shuffle that removes the
    matches. With a selective block list, the shuffled fraction at
    100 TB is a few percent of the corpus instead of all of it.

    NULL keys: ``xxhash64`` skips null children, so a NULL key probes
    to a deterministic NON-NULL boolean (see
    :func:`bloom_might_contain`) — NULL rows can land in EITHER
    branch. Both branches keep them correctly: the clean branch emits
    rows unjoined (anti-join semantics KEEP null keys), and the
    suspect branch's exact LEFT ANTI join never matches a NULL key, so
    it keeps them too. Exactness relies solely on that trailing exact
    join; the ``coalesce(probe, TRUE)`` suspect filter is a defensive
    guard (it would route NULL probes to the exact join if a future
    probe expression ever did propagate NULL), not a correctness
    precondition today.

    Plan shape note: the two branches are two filters over the same
    source unioned back together — two SCANS, one (small) shuffle.
    That trade is right at cluster scale: a parquet scan is
    column-pruned, pushdown-filtered, and embarrassingly parallel,
    while the anti-join shuffle is the network-bound term the probe
    exists to shrink.

    AQE-safety (the distributed_cumsum class — two consumers of one
    exchange disagreeing after an AQE re-plan): this IS a genuine
    two-consumer plan — ``clean`` and ``suspect`` both read ``with_bf``
    and are unioned, so AQE may re-execute the subtree once per branch
    with no exchange reuse. It stays exact because every term is
    DETERMINISTIC: the bitmap is a seeded-xxhash64 fold over ``small``
    (bit-identical on re-execution), the probe is a pure function of
    (key, bitmap), and the fence's ``monotonically_increasing_id() >=
    0`` is value-independent — so each row passes exactly one branch's
    filter under ANY re-plan, and clean ∪ suspect is a partition of
    ``big`` verbatim. The one PRECONDITION: ``big`` itself must
    re-execute deterministically. A nondeterministic upstream (a
    ``rand()`` sample, a mono-id-derived column) could route a row
    differently in the two re-executions — dropped from both branches
    or emitted twice, so persist such an input before the join. Same
    argument covers :func:`bloom_prune_semi_join`
    (single consumer of the probe, build side consumed twice — both
    deterministic) and the sketch rollups (linear chains, integer-exact
    binning). Pinned by tests/test_aqe_multiconsumer.py."""
    bf = bloom_build(small.select(key), key, num_bits, num_hashes, seed)
    probe = bloom_might_contain(F.col("bf"), F.col(key), num_bits, num_hashes, seed)
    with_bf = big.crossJoin(F.broadcast(bf))
    clean = with_bf.where(~probe).drop("bf")
    suspect = (
        with_bf.where(F.coalesce(probe, F.lit(True)))
        .drop("bf")
        .where(F.monotonically_increasing_id() >= F.lit(0))
        .join(small.select(key).distinct(), key, "left_anti")
    )
    return clean.unionByName(suspect.select(*clean.columns))
