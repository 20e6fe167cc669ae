"""Bloom-filter semi-join pruning: filter a huge fact table by a compact
probabilistic digest of the join keys before the exact join.

Additive scale surface (no reference counterpart — the reference's only
join is the inverted-index gather, SURVEY.md §2 O9). This is the standard
100 TB join-pruning pattern: when the dimension-side key set is too big to
broadcast as a hash set but the fact side is vastly bigger still, broadcast
a fixed-size Bloom bitmap (tens of KB regardless of key count) and drop
fact rows that cannot match BEFORE the shuffle. Spark's own runtime filter
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects the same shape
automatically when statistics allow; this operator is the explicit,
deterministic version with the filter parameters under user control.

Exactness: the Bloom probe admits false positives but never false
negatives, and the pruned rows feed a real semi-join that removes the
false positives — the end-to-end result is EXACT, which is why the oracle
is a plain `IN` semi-join with no bloom at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 2^18 bits = 4,096 longs ≈ 32 KB broadcast per filter — sized so that at
# ~30k keys (urgent orders at sf0.1) the false-positive rate is ~1.6%
# ((1 - e^{-kn/m})^k with k=5); the exact semi-join downstream absorbs the
# false positives, so fpp only affects pruning efficiency, not results.
M_BITS = 1 << 18
N_HASHES = 5


def _probe(key: F.Column, seed: int) -> F.Column:
    """Bit position for hash function ``seed``: xxhash64(key, seed) mod m.
    xxhash64 is JVM-side and seeded by the extra literal column, giving
    N_HASHES independent hash functions without leaving codegen."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(M_BITS))


def _bloom_words(keys: DataFrame, key_col: str, *group_cols: str) -> DataFrame:
    """The Bloom filter as a sparse (word, bits) TABLE, optionally keyed
    by ``group_cols`` (one filter per group). Each key contributes
    N_HASHES bit positions; positions group into 64-bit words via bit_or
    — one shuffle whose cardinality is bounded by groups × M_BITS/64 =
    4,096 words, NEVER by the key count. bit_or is associative,
    commutative, and IDEMPOTENT, so per-group word tables OR-merged
    reproduce the global table exactly (bloom_merge_proof pins it)."""
    return (
        keys.select(
            *group_cols,
            F.explode(
                F.array(*[_probe(F.col(key_col), i) for i in range(N_HASHES)])
            ).alias("pos"),
        )
        .select(
            *group_cols,
            F.floor(F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def build_bloom_bitmap(keys: DataFrame, key_col: str) -> list[int]:
    """Aggregate the key set into a dense Bloom bit array, JVM-side.

    The driver collect is bitmap-bounded (same contract as knn_ivf's
    fixed training sample: a constant-size driver transfer, not a
    data-sized one).
    """
    words = _bloom_words(keys, key_col).collect()
    bitmap = [0] * (M_BITS // 64)
    for r in words:
        bitmap[r["word"]] = r["bits"]
    return bitmap


def bloom_merge_proof(events: DataFrame) -> DataFrame:
    """End-to-end MERGEABILITY proof for the membership sketch (r15,
    completing the family: DD additive, HLL max, KMV union-truncate,
    CMS additive, Bloom OR): per-event-type Bloom word tables over the
    user-id key set are OR-MERGED — bit_or is idempotent, so like
    HLL/KMV (and unlike the DD/CMS additive folds) a replayed partial
    changes nothing — and compared word-for-word against an
    INDEPENDENTLY built global filter (a second scan with no group key,
    sharing no plan nodes). Rows: ONE (n_sketches_merged, n_words,
    n_set_bits, merge_matches_onebuild); the flag requires every 64-bit
    word identical in a full-outer compare (a word present on one side
    only fails). n_set_bits is the popcount the differential's
    occupancy-envelope reference checks against the exact distinct-key
    count. At 100 TB this is how join-pruning filters are built:
    per-slice word tables folded by OR, ≤ 4,096 words per group
    crossing the wire.

    Rows-only; the flag is pinned in tests/test_approx.py."""
    keyed = events.select("event_type", "user_id")
    # (groups × 4096)-bounded checkpoint: the OR-merge AND the
    # sketch-count tally both consume the typed word table, and
    # Catalyst never CSEs across consumers — unpinned, the grouped
    # build's events scan ran twice (plan audit: 3 source scans, now
    # 2). Eager at construction, the DD readers' documented convention.
    typed = _bloom_words(keyed, "user_id", "event_type").localCheckpoint()
    merged = typed.groupBy("word").agg(F.bit_or("bits").alias("bits"))
    n_types = typed.agg(
        F.countDistinct("event_type").cast("long").alias("n_sketches_merged")
    )
    onebuild = _bloom_words(events.select("user_id"), "user_id").select(
        F.col("word").alias("word2"), F.col("bits").alias("bits2")
    )
    cmp = merged.join(
        onebuild, merged["word"] == onebuild["word2"], "full_outer"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.bit_count("bits")).cast("long").alias("n_set_bits"),
        F.every(
            F.col("word").isNotNull()
            & F.col("word2").isNotNull()
            & (F.col("bits") == F.col("bits2"))
        ).alias("merge_matches_onebuild"),
    )
    return F.broadcast(n_types).crossJoin(cmp).select(
        "n_sketches_merged", "n_words", "n_set_bits", "merge_matches_onebuild"
    )


def bloom_prune(fact: DataFrame, key_col: str, bitmap: list[int]) -> DataFrame:
    """Drop fact rows whose key cannot be in the bitmap's key set.

    The bitmap rides in as a broadcast single-row frame (a ~32 KB
    BroadcastNestedLoopJoin with exactly one build row — constant cost, and
    the plan stays free of a driver-embedded 4,096-element literal). The
    probe itself is pure codegen: k shifted element_at bit tests.

    Working columns carry a reserved ``__bloom_`` prefix so a generic
    fact table with a column literally named ``bits`` (or ``_p0``…)
    can't collide into an AMBIGUOUS_REFERENCE or lose its own column to
    the final drop.
    """
    spark = fact.sparkSession
    bloom_df = spark.createDataFrame([(bitmap,)], "__bloom_bits array<bigint>")
    probed = fact.crossJoin(F.broadcast(bloom_df))
    for i in range(N_HASHES):
        probed = probed.withColumn(f"__bloom_p{i}", _probe(F.col(key_col), i))
    tests = [
        F.expr(
            f"(shiftright(element_at(__bloom_bits,"
            f" CAST(floor(__bloom_p{i} / 64) AS INT) + 1),"
            f" CAST(__bloom_p{i} % 64 AS INT)) & 1) = 1"
        )
        for i in range(N_HASHES)
    ]
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    return probed.where(cond).drop(
        "__bloom_bits", *[f"__bloom_p{i}" for i in range(N_HASHES)]
    )


def _urgent_keys(orders: DataFrame) -> DataFrame:
    """The ONE definition of the urgent-order key set (ADVICE r17): the
    bitmap-build predicate in bloom_pruned_join and the exact semi-join
    predicate inside urgent_pruned_revenue MUST be the same key set —
    a bloom bitmap built over a DIFFERENT set than the exact join would
    produce false NEGATIVES (pruning rows the join still wants), which
    is correctness-breaking, unlike bloom false positives. Sharing the
    frame-builder makes that drift impossible by construction."""
    return orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")


def urgent_pruned_revenue(pruned: DataFrame, orders: DataFrame) -> DataFrame:
    """Shared exact tail of the urgent-revenue pruned join: the semi-join
    against the urgent order keys kills the bloom filter's false
    positives, then the revenue rollup. ONE kernel consumed by both the
    batch bloom_pruned_join (bitmap built fresh from orders) and the
    streaming read_bloom_pruned_revenue (bitmap densified from the
    persisted fold state) — VERDICT r16 #3: the exact-equality pin in
    tests/test_streaming.py now guards the two paths' SEMANTICS (fold
    state == fresh build), not a textual copy of this aggregate. The
    key set comes from _urgent_keys — the same builder the batch bitmap
    uses — so the prune predicate and the exact predicate cannot drift."""
    urgent = _urgent_keys(orders)
    exact = pruned.join(
        urgent, pruned["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    )
    return (
        exact.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def bloom_pruned_join(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Revenue of line items belonging to URGENT orders, with the lineitem
    scan Bloom-pruned by the urgent-order key set before the exact join.

    Plan shape: build bitmap over the filtered orders keys (one bounded
    aggregate) → probe lineitem rows against the broadcast bitmap (map-only
    bit tests) → exact semi-join to kill false positives → group. At 100 TB
    the semi-join's shuffle moves only the pruned ~fraction of lineitem
    instead of all of it; the bitmap broadcast is constant-size where a
    broadcast hash semi-join would need the whole key set on every
    executor.
    """
    urgent = _urgent_keys(orders)
    bitmap = build_bloom_bitmap(urgent, "o_orderkey")
    pruned = bloom_prune(lineitem, "l_orderkey", bitmap)
    return urgent_pruned_revenue(pruned, orders)


BLOOM_PRUNED_JOIN_ORACLE = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
