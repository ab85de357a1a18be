"""Deterministic distinct-count sketch (minimum-statistics estimator).

Distinct counting at 100 TB needs bounded, mergeable state. Engine
HyperLogLogs (approx_count_distinct) have that but their register
layouts differ across engines, so the *estimate* can't be checked by
an external oracle. This sketch can: hash every value with m
independent salted md5 functions onto (0,1]; for n distinct values
the expected per-function minimum is 1/(n+1), so

    n_hat = m / sum_i(min_i) - 1

State is m doubles, the aggregate is m `min`s (trivially algebraic:
map-side partial mins, one merge), and md5 is bit-identical in any
engine — the estimate itself hash-matches a DuckDB oracle, not just
"is approximately right". Relative error ~1/sqrt(m); m=64 ≈ 12%,
m=256 ≈ 6%.

Duplicates never grow state, order never changes the result, and
per-partition sketches combine by elementwise min — the precompute-
per-file-then-merge pattern that makes cardinality cheap at read time.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from platypus_ingestion_plugins_spark import fs as _fs

_HASH_SPACE = float(16**15)


def salted_unit_hash(col: Column | str, salt: int) -> Column:
    """Uniform (0,1] hash: md5 of (salt|value), head 15 hex chars."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), c.cast("string"))), 1, 15), 16, 10
    ).cast("double")
    return (h + F.lit(1.0)) / F.lit(_HASH_SPACE)


def distinct_sketch_mins(
    col: Column | str, m: int = 64, prefix: str = "__kmin"
) -> list[Column]:
    """The m per-function minimum aggregates (the sketch's state).
    Merge two sketches by elementwise LEAST. ``prefix`` names the
    state columns (two sketches joined side by side need distinct
    names — sketch_overlap_estimate)."""
    return [
        F.min(salted_unit_hash(col, i)).alias(f"{prefix}{i}")
        for i in range(m)
    ]


def distinct_estimate(col: Column | str, m: int = 64) -> Column:
    """Aggregate expression: estimated distinct count of ``col``.

    One pass, m min-aggregates combined as m/sum(mins) - 1.
    """
    mins = [F.min(salted_unit_hash(col, i)) for i in range(m)]
    total = reduce(lambda a, b: a + b, mins)
    return F.round(F.lit(float(m)) / total - F.lit(1.0), 4)


def sketch_overlap_estimate(
    df_a,
    df_b,
    col: str,
    m: int = 64,
) -> "DataFrame":
    """Release-engineering set arithmetic WITHOUT a join: estimated
    distinct counts of two corpora, their union, intersection and
    B-only novelty — "how much genuinely new data does drop B add" —
    from two bounded sketch states (m doubles each) instead of an
    O(|A|+|B|) distinct-join. The union state is the elementwise
    LEAST of the per-function minimums (the documented merge rule of
    ``distinct_sketch_mins``); intersection and difference follow by
    inclusion-exclusion, floored at 0 (the estimator is unbiased, not
    monotone). Everything is the deterministic salted-md5 hash, so
    the estimates — not just the exact counts — are reproducible
    bit-for-bit by an external engine.

    Output: one row (est_a, est_b, est_union, est_intersection,
    est_only_b), 4-dp rounded like ``distinct_estimate``. Each input
    pass is ONE map-side-combinable aggregation; the final arithmetic
    is a 1x1 crossJoin of the two m-column states.
    """
    sa = df_a.agg(*distinct_sketch_mins(col, m))
    sb = df_b.agg(*distinct_sketch_mins(col, m, prefix="__bmin"))
    both = sa.crossJoin(F.broadcast(sb))
    # an EMPTY side aggregates every min to NULL; coalesce to the hash
    # ceiling 1.0, which estimates exactly 0 distinct (m/m - 1) — the
    # first-drop case A = empty, B = the new corpus must report
    # est_only_b ~ |B|, not an all-NULL row (r11 review 2nd pass #6)
    a_i = [F.coalesce(F.col(f"__kmin{i}"), F.lit(1.0)) for i in range(m)]
    b_i = [F.coalesce(F.col(f"__bmin{i}"), F.lit(1.0)) for i in range(m)]
    sum_a = reduce(lambda x, y: x + y, a_i)
    sum_b = reduce(lambda x, y: x + y, b_i)
    sum_u = reduce(
        lambda x, y: x + y, [F.least(a, b) for a, b in zip(a_i, b_i)]
    )
    est = lambda s: F.lit(float(m)) / s - F.lit(1.0)  # noqa: E731
    ea, eb, eu = est(sum_a), est(sum_b), est(sum_u)
    inter = F.greatest(ea + eb - eu, F.lit(0.0))
    return both.select(
        F.round(ea, 4).alias("est_a"),
        F.round(eb, 4).alias("est_b"),
        F.round(eu, 4).alias("est_union"),
        F.round(inter, 4).alias("est_intersection"),
        F.round(F.greatest(eb - inter, F.lit(0.0)), 4).alias("est_only_b"),
    )


def _salted_bucket(col: Column | str, salt: int, width: int) -> Column:
    """Deterministic bucket in [0, width): md5 long mod width."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), c.cast("string"))), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(width))


def countmin_counters(df, col: str, depth: int = 4, width: int = 256):
    """Count-min sketch counters: ``depth`` salted hash rows of
    ``width`` buckets. State is depth*width longs — bounded no matter
    the key cardinality, and two sketches merge by elementwise ADD
    (fully algebraic: map-side partial counts, one shuffle of at most
    depth*width cells per partition). The frequency-tracking complement
    of the distinct sketch above: same md5 trick, so the counters (and
    every estimate read off them) hash-match an external oracle.
    Output: (i, b, c)."""
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"), _salted_bucket(col, i, width).alias("b")
                )
                for i in range(depth)
            ]
        )
    ).alias("cell")
    return (
        df.select(cells)
        .groupBy(F.col("cell.i").alias("i"), F.col("cell.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _merge_sketch_into(batch, path: str, merge_fn, batch_id: int | None) -> None:
    """The shared streaming-maintenance commit for ANY mergeable
    sketch: ``merge_fn(batch, prev_or_None) -> merged state frame``,
    written stage-then-park-swap so a crash leaves either the old or
    the new state, never a torn mix (heal on the next merge/read).
    Sketch merges are generally NOT idempotent (ADD double-counts,
    bottom-k tolerates but shouldn't pay replays), so the foreachBatch
    ``batch_id`` is pinned in an ``_epoch`` file INSIDE the swapped
    directory — the same atomic unit as the state — and a replayed
    batch with ``batch_id <= pinned`` is skipped: at-least-once
    delivery becomes exactly-once sketch state."""
    spark = batch.sparkSession
    _fs.heal_swap(spark, path, path + ".old")
    if batch_id is not None:
        pinned = _fs.read_text(spark, f"{path}/_epoch")
        if pinned is not None and batch_id <= int(pinned):
            return  # replayed batch: already folded in
    prev = spark.read.parquet(path) if _fs.exists(spark, path) else None
    merged = merge_fn(batch, prev)

    def write(staging: str) -> None:
        # coalesce(1): sketch state is KBs by construction — one file
        # keeps the per-batch read-back a single-split scan
        merged.coalesce(1).write.parquet(staging)
        if batch_id is not None:
            _fs.write_text(spark, f"{staging}/_epoch", str(batch_id))

    _fs.swap_dir(spark, path, path + ".staging", path + ".old", write)


def countmin_merge_into(
    batch,
    col: str,
    path: str,
    depth: int = 4,
    width: int = 256,
    batch_id: int | None = None,
) -> None:
    """``foreachBatch`` body: fold a micro-batch's count-min counters
    into the accumulated counter table at ``path`` — the streaming
    shape the sketch's algebraic merge exists for. Per batch: one
    bounded aggregate over the batch (depth*width cells), elementwise
    ADD with the previous state (depth*width rows read back — KBs, not
    stream-sized), under the shared epoch-pinned stage-park-swap
    commit (``_merge_sketch_into``). Result: the accumulated table
    always equals the one-shot batch sketch over everything ingested
    (the oracle's check)."""

    def merge(b, prev):
        new = countmin_counters(b, col, depth, width)
        if prev is None:
            return new
        return (
            prev.unionByName(new).groupBy("i", "b").agg(F.sum("c").alias("c"))
        )

    _merge_sketch_into(batch, path, merge, batch_id)


def bottomk_merge_into(
    batch,
    key_col: str,
    value_col: str,
    path: str,
    k: int = 512,
    salt: str = "bottomk",
    batch_id: int | None = None,
) -> None:
    """``foreachBatch`` body for the quantile sketch: keep the k
    smallest-hash (u, value) rows across everything ingested — union
    the batch's bottom-k with the previous state and re-take the
    bottom k (membership depends only on each row's own hash, so the
    merged sample equals the one-shot bottom-k over the whole stream).
    State is k rows; same epoch-pinned crash-safe commit as the
    count-min maintenance. Read back with ``sketch_read`` and
    aggregate ``F.percentile`` over it (or reuse
    ``bottomk_quantiles``'s aggs) for always-current quantiles."""
    from ..functions.sampling import unit_hash

    def merge(b, prev):
        new = b.select(
            unit_hash(key_col, salt).alias("u"), F.col(value_col).alias("v")
        )
        return bottomk_sample_merge(new, prev, k)

    _merge_sketch_into(batch, path, merge, batch_id)


def bottomk_sample_merge(new, prev, k: int, group_cols: tuple = ()):
    """The ONE bottom-k merge law (union + re-take the k smallest
    (u, v) rows — membership depends only on each row's own hash, so
    the merged sample equals the one-shot bottom-k), shared by the
    global quantile sketch and the per-slice streaming datasheet.
    ``group_cols`` switches global limit to a per-group window."""
    if prev is not None:
        new = new.unionByName(prev)
    if not group_cols:
        return new.orderBy("u", "v").limit(k)
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy("u", "v")
    return (
        new.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmin_state_estimate(m: int, prefix: str = "__kmin"):
    """Distinct estimate COLUMN over an accumulated min-state row
    (the read-side twin of ``distinct_estimate``, which aggregates
    raw rows): m / sum(mins) - 1, 4-dp."""
    total = reduce(
        lambda a, b: a + b, [F.col(f"{prefix}{i}") for i in range(m)]
    )
    return F.round(F.lit(float(m)) / total - F.lit(1.0), 4)


def sketch_read(spark, path: str):
    """The accumulated sketch state (heal-on-read): counters for
    ``countmin_estimate``, or the (u, v) sample for quantiles."""
    _fs.heal_swap(spark, path, path + ".old")
    return spark.read.parquet(path)


# back-compat name for the count-min reader
countmin_read = sketch_read


def bottomk_quantiles(
    df,
    key_col: str,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    probs: tuple[float, ...] = (0.5,),
    k: int = 512,
    salt: str = "bottomk",
):
    """Quantile estimates from a BOTTOM-K HASH sample: the k rows with
    the smallest ``unit_hash(key)`` form a uniform sample of fixed
    size (the KMV/bottom-k sketch doubles as a sample), and the exact
    interpolated percentile over that sample estimates the population
    quantile with error ~1/sqrt(k). The engine-checkable alternative
    to t-digest/percentile_approx, whose internal layouts no external
    oracle can reproduce: the md5 hash order — hence the exact sample,
    hence the estimate — is bit-identical in any engine (estimates
    rounded to 6 places to absorb interpolation-formula ulp).

    Mergeable: two sketches over the same (key, salt) merge by
    unioning samples and re-taking the bottom k — the sample property
    is preserved because membership depends only on each row's own
    hash. Deterministic under reruns, partitionings, and data growth
    (a new row evicts the largest hash, never reshuffles the rest).

    ``key_col`` must uniquely identify rows (an event/doc id):
    duplicate keys tie in the hash order and would make the sample
    ambiguous — ties break on (u, value) for safety. Shape: grouped =
    one window shuffle (per-group rank, state k rows per group);
    global = TakeOrdered, no full sort. Output: group cols,
    ``q_<pct>`` per requested prob, ``n_sample``."""
    from ..functions.sampling import unit_hash

    u = unit_hash(key_col, salt)
    aggs = [
        F.round(F.percentile(F.col(value_col), F.lit(p)), 6).alias(
            f"q_{str(p).replace('.', '_')}"
        )
        for p in probs
    ] + [F.count(F.lit(1)).alias("n_sample")]
    if group_cols:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*group_cols).orderBy(u.asc(), F.col(value_col).asc())
        sample = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
        )
        return sample.groupBy(*group_cols).agg(*aggs)
    sample = df.select(u.alias("__u"), value_col).orderBy("__u", value_col).limit(k)
    return sample.agg(*aggs)


_BLOOM_SALT = 7000  # salt namespace: keep bloom hashes disjoint from
# the distinct/count-min families so composed sketches never share bits


def _bloom_cell(col: Column | str, i: int, num_bits: int) -> tuple[Column, Column]:
    """(word index, bit index) of hash ``i`` for a value — 32-bit word
    packing so every mask stays a positive BIGINT in any engine (no
    sign-bit divergence between Spark longs and SQL BIGINT shifts)."""
    p = _salted_bucket(col, _BLOOM_SALT + i, num_bits)
    return (p / 32).cast("int"), F.pmod(p, F.lit(32)).cast("int")


def bloom_build(df, col: str, num_bits: int = 1 << 15, num_hashes: int = 4) -> list[int]:
    """Bloom filter of ``col``'s distinct values as a packed word list
    (num_bits/32 longs) — the set-membership sketch: bounded state
    regardless of cardinality, NO false negatives, false positives at
    ~(1 - e^(-kn/m))^k. Build is one explode + groupBy(bit_or) over
    num_bits/32 cells; the collected word array is O(num_bits) driver
    state by construction (4 KB at the default), sized to ride into a
    probe expression as a literal. Two filters over the same
    (num_bits, num_hashes) merge by elementwise OR. Same salted-md5
    hashing as the sibling sketches, so probe results — including the
    exact false-positive set — are engine-reproducible."""
    cells = [
        F.struct(w.alias("w"), b.alias("bit"))
        for w, b in (_bloom_cell(col, i, num_bits) for i in range(num_hashes))
    ]
    rows = (
        df.select(F.explode(F.array(*cells)).alias("c"))
        .groupBy(F.col("c.w").alias("w"))
        .agg(
            F.bit_or(
                F.pow(F.lit(2.0), F.col("c.bit")).cast("long")
            ).alias("bits")
        )
        .collect()
    )
    words = [0] * ((num_bits + 31) // 32)
    for r in rows:
        words[r.w] = r.bits
    return words


def bloom_maybe_contains(
    col: Column | str, words: list[int], num_bits: int | None = None,
    num_hashes: int = 4,
) -> Column:
    """Boolean probe expression against a built filter: true iff every
    hash's bit is set (maybe-member; false = DEFINITELY absent). The
    word list embeds as an array literal, so the probe is a pure
    codegen projection — no join, no shuffle, the map-side shape a
    100 TB scan wants. For filters too big to inline (many MBs),
    join against the (w, bits) frame instead."""
    from functools import reduce as _reduce

    num_bits = num_bits or len(words) * 32
    arr = F.lit(words)
    conds = []
    for i in range(num_hashes):
        w, b = _bloom_cell(col, i, num_bits)
        mask = F.pow(F.lit(2.0), b).cast("long")
        conds.append(F.element_at(arr, w + 1).bitwiseAND(mask) == mask)
    return _reduce(lambda a, c: a & c, conds)


def countmin_estimate(counters, keys, col: str, depth: int = 4, width: int = 256):
    """Point-frequency estimates for ``keys`` (a DataFrame with
    ``col``): min over hash rows of the key's counter — the classic
    count-min upper bound (overestimates only, by at most the
    collision mass). The counters broadcast: depth*width cells, a few
    KB regardless of data size. Output: (col, est_count)."""
    kb = keys.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _salted_bucket(col, i, width).alias("b")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(col, F.col("cell.i").alias("i"), F.col("cell.b").alias("b"))
    return (
        kb.join(F.broadcast(counters), ["i", "b"])
        .groupBy(col)
        .agg(F.min("c").alias("est_count"))
    )
