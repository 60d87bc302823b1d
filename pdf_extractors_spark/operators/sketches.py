"""Bounded-state cardinality sketches.

KMV (k-minimum-values) distinct-count estimation: keep the ``k``
smallest distinct hash values per group; if fewer than ``k`` exist the
count is exact, otherwise ``est = (k-1) / R_k`` where ``R_k`` is the
k-th smallest hash normalized to (0, 1] (Bar-Yossef et al. 2002,
"Counting distinct elements in a data stream"). Relative error is
~1/sqrt(k-2), so k=256 gives ~6%.

Why this exists next to ``count_distinct``: an exact distinct shuffles
every distinct (group, value) pair. At 10^12 rows that exchange is the
job. The KMV plan shuffles at most ``k`` 8-byte hashes per (group,
input-partition) — the map side is a zero-exchange Arrow-batched
bounded-state pass — so cardinality profiling (vocabulary size per
language, distinct URLs per domain, join-key explosion pre-checks)
costs a scan plus a near-empty exchange regardless of corpus size.

Everything is integer-exact and engine-portable: the hash is the shared
32-bit md5 prefix (``hashing.md5_bigint``) and the estimator is pure
bigint arithmetic, so DuckDB replays the identical estimate from the
identical parquet — the value oracle checks the sketch bit-for-bit, not
just "within error bounds".

Reference scope note: the reference engine (ShahzadAmjadKhan/
pdf-extractors) has no sketch analogue — this is an engine addition for
the corpus-profiling stage of a training-data pipeline.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .hashing import md5_bigint, md5_bigint_sql, seeded, seeded_sql

# md5_bigint is uniform over [0, 2^32); the +1 in the denominator makes
# hash value 0 well-defined (R_k normalized to (0, 1], never 0)
_HASH_SPACE = 1 << 32


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: int = 256,
) -> DataFrame:
    """Per-group KMV distinct-count estimate: one row per group with
    ``est_distinct`` (bigint). Null values are ignored, matching
    ``COUNT(DISTINCT ...)``; a group whose values are all null emits no
    row (same in the SQL form).

    Plan shape (the point of the operator):

    1. map side — ``mapInPandas`` keeps, per (input partition, group),
       the ``k`` smallest **distinct** hashes. State is a dict of
       ≤ k-row frames, folded batch-by-batch with vectorized
       ``drop_duplicates + nsmallest`` — no per-row Python. Zero
       exchange; output ≤ k rows per group per partition.
    2. one exchange — ``groupBy(group)`` merges candidates with
       ``collect_set → array_sort → slice k``. The union of per-partition
       k-minima is a superset of the global k-minima (any global top-k
       hash is top-k within its own partition), so the merged slice is
       exactly the k smallest distinct global hashes; when fewer than k
       exist it is all of them and the estimate degrades to the exact
       count. Merge state per group is ≤ k × n_partitions 8-byte values.

    The estimator, in overflow-free bigint math (``(k-1)·2^32 < 2^40``)::

        est = m                                   if m < k   (exact)
        est = ((k-1) * 2^32) div (kth_hash + 1)   otherwise
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    group_cols = list(group_cols)
    proj = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, md5_bigint(value_col).alias("h"))
    )
    schema = proj.schema

    def _partition_kmins(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        state: pd.DataFrame | None = None
        for batch in batches:
            merged = batch if state is None else pd.concat(
                [state, batch], ignore_index=True
            )
            # distinct hashes per group, then the k smallest: bounded
            # fold — state never exceeds k rows per group seen so far
            state = (
                merged.drop_duplicates()
                .sort_values("h", kind="mergesort")
                .groupby(group_cols, sort=False, observed=True, dropna=False)
                .head(k)
            )
        if state is not None and len(state):
            yield state

    candidates = proj.mapInPandas(_partition_kmins, schema)
    merged = candidates.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("kmins")
    )
    m = F.size("kmins")
    # `div`, not `/`: Spark's `/` promotes to double; the estimator is
    # defined in bigint so DuckDB replays it bit-for-bit
    est = F.expr(f"{(k - 1) * _HASH_SPACE}L div (element_at(kmins, {k}) + 1L)")
    return merged.select(
        *group_cols,
        F.when(m < k, m.cast("long")).otherwise(est).alias("est_distinct"),
    )


def kmv_distinct_sql(
    table_expr: str,
    value_expr: str,
    group_cols: Sequence[str],
    k: int = 256,
) -> str:
    """DuckDB SQL replaying :func:`kmv_distinct` bit-for-bit (the value
    oracle). Computes the k smallest distinct hashes per group directly
    — the distributed candidate-merge is estimator-invariant, so the
    straightforward window form is the semantic ground truth."""
    g = ", ".join(group_cols)
    h = md5_bigint_sql(value_expr)
    return f"""
        with d as (
            select distinct {g}, {h} as h
            from {table_expr}
            where ({value_expr}) is not null
        ),
        r as (
            select {g}, h,
                   row_number() over (partition by {g} order by h) as rn
            from d
        )
        select {g},
               case when count(*) < {k} then count(*)
                    else {(k - 1) * _HASH_SPACE} // (max(case when rn = {k} then h end) + 1)
               end as est_distinct
        from r
        where rn <= {k}
        group by {g}
    """


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """Two-corpus set-overlap profile from merged KMV sketches (Beyer
    et al. 2007, "On synopses for distinct-value estimation under
    multiset operations"): ONE row ``(est_distinct_a, est_distinct_b,
    est_union, est_intersection, jaccard_ppm)``, all bigint.

    The question a decontamination / corpus-merge plan starts with —
    "how much does corpus B overlap corpus A?" — answered without ever
    joining the corpora: each side contributes its k smallest distinct
    hashes (same bounded plan as :func:`kmv_distinct`), the driver-free
    merge happens in one tiny aggregation, and the estimators are pure
    bigint arithmetic replayed exactly by the DuckDB oracle.

    Estimator: pool = k smallest distinct hashes of sketch(A) ∪
    sketch(B) (a valid KMV sketch of A ∪ B, since each side's sketch
    is its k-minima); ``est_union`` from the pool's k-th value;
    ``est_intersection = (|pool ∩ A ∩ B| * est_union) div |pool|``;
    jaccard in parts-per-million from the same integers."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    def _sketch(df: DataFrame, side: int) -> DataFrame:
        proj = (
            df.filter(F.col(value_col).isNotNull())
            .select(
                F.lit(side).alias("side"),
                md5_bigint(value_col).alias("h"),
            )
        )
        schema = proj.schema

        def _partition_kmins(batches):
            state = None
            for batch in batches:
                merged = batch if state is None else pd.concat(
                    [state, batch], ignore_index=True
                )
                state = (
                    merged.drop_duplicates()
                    .sort_values("h", kind="mergesort")
                    .head(k)
                )
            if state is not None and len(state):
                yield state

        return (
            proj.mapInPandas(_partition_kmins, schema)
            .groupBy("side")
            .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("kmins"))
        )

    both = _sketch(df_a, 0).unionByName(_sketch(df_b, 1))
    # the merge is a 2-row aggregation: arrays in, one profile row out
    merged = both.agg(
        F.first(F.when(F.col("side") == 0, F.col("kmins")), ignorenulls=True).alias("ka"),
        F.first(F.when(F.col("side") == 1, F.col("kmins")), ignorenulls=True).alias("kb"),
    )

    def _est(arr: str) -> F.Column:
        m = F.size(F.col(arr))
        return F.when(m < k, m.cast("long")).otherwise(
            F.expr(
                f"{(k - 1) * _HASH_SPACE}L div (element_at({arr}, {k}) + 1L)"
            )
        )

    return (
        merged.select(
            F.coalesce("ka", F.array().cast("array<bigint>")).alias("ka"),
            F.coalesce("kb", F.array().cast("array<bigint>")).alias("kb"),
        )
        .withColumn(
            "pool",
            F.slice(F.array_sort(F.array_distinct(F.concat("ka", "kb"))), 1, k),
        )
        .withColumn("np", F.size("pool"))
        .withColumn(
            "est_union",
            F.when(F.col("np") < k, F.col("np").cast("long")).otherwise(
                F.expr(
                    f"{(k - 1) * _HASH_SPACE}L div (element_at(pool, {k}) + 1L)"
                )
            ),
        )
        .withColumn(
            "n_common",
            F.expr(
                "size(filter(pool, h -> array_contains(ka, h)"
                " and array_contains(kb, h)))"
            ),
        )
        .select(
            _est("ka").alias("est_distinct_a"),
            _est("kb").alias("est_distinct_b"),
            F.col("est_union"),
            F.when(F.col("np") > 0, F.expr("(n_common * est_union) div np"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("est_intersection"),
            F.when(F.col("np") > 0, F.expr("(n_common * 1000000) div np"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


def kmv_overlap_sql(
    table_a: str,
    table_b: str,
    value_expr: str,
    k: int = 256,
) -> str:
    """DuckDB SQL replaying :func:`kmv_overlap` bit-for-bit."""
    h = md5_bigint_sql(value_expr)
    space = _HASH_SPACE
    return f"""
        with sa as (
            select h from (
                select distinct {h} as h from {table_a}
                where ({value_expr}) is not null
            ) order by h limit {k}
        ),
        sb as (
            select h from (
                select distinct {h} as h from {table_b}
                where ({value_expr}) is not null
            ) order by h limit {k}
        ),
        pool as (
            select h from (
                select distinct h from (
                    select h from sa union all select h from sb
                )
            ) order by h limit {k}
        ),
        stats as (
            select
              (select count(*) from sa) as ma,
              (select max(h) from (select h from sa order by h limit {k})
                 where (select count(*) from sa) >= {k}) as kth_a,
              (select count(*) from sb) as mb,
              (select max(h) from (select h from sb order by h limit {k})
                 where (select count(*) from sb) >= {k}) as kth_b,
              (select count(*) from pool) as np,
              (select max(h) from pool
                 where (select count(*) from pool) >= {k}) as kth_p,
              (select count(*) from pool
                 where h in (select h from sa) and h in (select h from sb))
                as n_common
        )
        select
          cast(case when ma < {k} then ma
               else {(k - 1) * space} // (kth_a + 1) end as bigint)
            as est_distinct_a,
          cast(case when mb < {k} then mb
               else {(k - 1) * space} // (kth_b + 1) end as bigint)
            as est_distinct_b,
          cast(case when np < {k} then np
               else {(k - 1) * space} // (kth_p + 1) end as bigint)
            as est_union,
          cast(case when np > 0 then
                 (n_common * (case when np < {k} then np
                              else {(k - 1) * space} // (kth_p + 1) end)) // np
               else 0 end as bigint) as est_intersection,
          cast(case when np > 0 then (n_common * 1000000) // np
               else 0 end as bigint) as jaccard_ppm
        from stats
    """


def _cms_bucket(col: Column | str, d: int, width: int) -> Column:
    """Depth-``d`` Count-Min bucket of a token: seeded portable hash mod
    width. Operands are non-negative bigints, so ``%`` agrees between
    Spark and DuckDB."""
    return (seeded(F.col(col) if isinstance(col, str) else col, d) % width).cast(
        "int"
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 100,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Heavy-hitter tokens via Count-Min sketch candidate generation +
    exact verification (Cormode & Muthukrishnan 2005, "An improved data
    stream summary: the count-min sketch and its applications"): one row
    ``(token, cnt, cms_est)`` per whitespace token whose EXACT corpus
    frequency is ≥ ``min_count``, with the sketch's estimate beside the
    truth (``cms_est ≥ cnt`` always — CMS only overestimates).

    Why this exists next to the exact ``group_count`` / the sampled
    heavy-hitter detection in ``operators/salting.py``: an exact
    frequency table shuffles every distinct key, and sampling can miss.
    This plan never shuffles the keyspace:

    1. **counter build** — each token occurrence expands to ``depth``
       ``(d, bucket)`` pairs (``posexplode`` of a column array, no UDF);
       the groupBy's map-side partial aggregation bounds the exchange at
       ``depth × width`` rows per input partition, regardless of corpus
       or vocabulary size.
    2. **local candidates** — a bounded ``mapInPandas`` pass emits, per
       input partition, only tokens with local count ≥
       ``ceil(min_count / P)``. Pigeonhole guarantee: a token with
       global count ≥ min_count exceeds that floor in at least one of
       the ``P`` partitions, so there are NO false negatives; false
       positives are pruned next.
    3. **exact verify** — occurrences of candidate tokens only
       (broadcast semi-join) are counted exactly; map-side combine
       bounds this exchange at ``candidates × partitions``.
    4. **estimate join** — the ``depth × width`` counter table
       broadcasts; ``cms_est = min`` over depths.

    The output is partition-independent (step 3 filters on exact
    counts; the estimate is a pure function of the corpus), so the
    DuckDB oracle replays it bit-for-bit. Tokenization matches
    ``text_stats.tokens``: lowercase, trim, split on ``\\s+``.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}/{width}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    buckets = F.array(*[_cms_bucket("tok", d, width) for d in range(depth)])
    counters = (
        toks.select(F.posexplode(buckets).alias("d", "b"))
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("ccnt"))
    )

    n_parts = max(1, toks.rdd.getNumPartitions())
    local_min = max(1, -(-min_count // n_parts))  # ceil division

    def _local_candidates(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        counts: pd.Series | None = None
        for batch in batches:
            vc = batch["tok"].value_counts()
            counts = vc if counts is None else counts.add(vc, fill_value=0)
        if counts is not None:
            hot = counts[counts >= local_min]
            if len(hot):
                yield pd.DataFrame({"tok": hot.index})

    candidates = toks.mapInPandas(
        _local_candidates, "tok string"
    ).dropDuplicates(["tok"])

    verified = (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )

    probe = verified.select(
        "tok", "cnt", F.posexplode(buckets).alias("d", "b")
    )
    return (
        probe.join(F.broadcast(counters), ["d", "b"])
        .groupBy("tok", "cnt")
        .agg(F.min("ccnt").alias("cms_est"))
        .select(
            F.col("tok").alias("token"),
            F.col("cnt"),
            F.col("cms_est"),
        )
    )


def cms_heavy_hitters_sql(
    table_expr: str,
    text_expr: str = "text",
    min_count: int = 100,
    depth: int = 4,
    width: int = 1024,
) -> str:
    """DuckDB SQL replaying :func:`cms_heavy_hitters` bit-for-bit: exact
    frequencies filtered at ``min_count``, plus the identical Count-Min
    estimate (same seeded md5 hashes, same bucket math)."""

    def h(d: int) -> str:
        return f"({seeded_sql('tok', d)}) % {width}"

    counter_selects = "\n            union all\n".join(
        f"            select {d} as d, {h(d)} as b, count(*) as ccnt"
        f" from toks group by 2"
        for d in range(depth)
    )
    probe_selects = "\n            union all\n".join(
        f"            select tok, cnt, {d} as d, {h(d)} as b from verified"
        for d in range(depth)
    )
    return f"""
        with toks as (
            select t.tok
            from {table_expr},
                 unnest(string_split_regex(trim(lower({text_expr})), '\\s+'))
                   as t(tok)
            where ({text_expr}) is not null and t.tok <> ''
        ),
        counters as (
{counter_selects}
        ),
        verified as (
            select tok, count(*) as cnt from toks
            group by tok having count(*) >= {min_count}
        ),
        probe as (
{probe_selects}
        )
        select p.tok as token, p.cnt, min(c.ccnt) as cms_est
        from probe p join counters c using (d, b)
        group by p.tok, p.cnt
    """


# ------------------------------------------------------------ hyperloglog


def hll_constants(p: int) -> tuple[int, int, list[int]]:
    """(m, alpha_ppm, ln_table) for a 2^p-register HyperLogLog
    (Flajolet et al. 2007). ``alpha_ppm`` is the bias-correction
    constant in parts-per-million; ``ln_table[V]`` (1-indexed) is
    ``round(m · ln(m / V))`` — the linear-counting estimate for V
    empty registers. Like ndcg_discounts, ALL float math lives in
    these driver-side constants, computed once from the same formula
    in every engine; per-row and per-group math is exact integers."""
    import math

    if not 4 <= p <= 9:
        raise ValueError(f"p must be in [4, 9], got {p}")
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    ln_table = [int(round(m * math.log(m / v))) for v in range(1, m + 1)]
    return m, int(round(alpha * 10**6)), ln_table


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog register table: one row per (group,
    register) with the register's max leading-zero rank — the
    MERGEABLE form of the sketch. Registers merge under plain ``max``,
    so unioning two corpora's register tables and re-aggregating gives
    EXACTLY the sketch of the union (pytest pins this as an equality,
    not a tolerance) — the property KMV's k-minima share but
    count_distinct fundamentally lacks; at 10^12 rows it is what lets
    per-shard / per-day profiles roll up without rescanning anything.

    Hash layout (32-bit md5 prefix, the portable oracle hash): the top
    ``p`` bits pick the register, the remaining ``32-p`` bits feed the
    rank = leading-zeros + 1 ∈ [1, 33-p]; rank of an all-zero
    remainder is the max, 33-p. ``bit_length`` is the same
    ``length(bin(x)) - 1`` floor-log2 used by char_entropy, exact in
    both engines.

    Plan shape: one groupBy(group, register) with map-side-combined
    ``max`` — the corpus collapses to ≤ m rows per group per map
    partition before the exchange; bytes moved = registers, never
    values. Null values are ignored (as COUNT(DISTINCT)); a group
    whose values are all null emits no rows.
    """
    hll_constants(p)  # validates p
    rem_bits = 32 - p
    group_cols = list(group_cols)
    h = md5_bigint(value_col)
    reg = F.shiftright(h, rem_bits).cast("long")
    rest = h % F.lit(1 << rem_bits)
    rank = F.when(rest == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits) - (F.length(F.bin(rest)) - 1)
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, reg.alias("register"), rank.alias("rank"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rank").cast("long").alias("m_rank"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """Collapse a :func:`hll_registers` table to one estimate row per
    group: ``(group..., v_zero, est_distinct)``.

    Exact-integer estimator: each register contributes
    ``2^(40 - m_rank)`` (m_rank ≤ 33, so every term is an exact
    bigint; 2^40 is the fixed-point scale of 2^-m_rank) and each of
    the ``v_zero`` never-hit registers contributes ``2^40``; then

        est_raw = (alpha_ppm · m² · 2^40) div (10^6 · S)   [decimal 38]

    with the HLL small-range correction: when ``est_raw ≤ 5m/2`` and
    ``v_zero > 0``, linear counting ``ln_table[v_zero]`` is the
    estimate.  The large-range (hash-collision) correction is
    DELIBERATELY omitted: with a 32-bit hash it matters past ~1.4·10^8
    distincts, where the portable-hash oracle contract itself breaks
    down — at that scale a 64-bit hash (xxhash64) in hll_registers
    keeps the correction irrelevant, at the cost of engine-private
    hashing.  Relative error ≈ 1.04/√m (~6.5% at
    p=8) — pinned by a tolerance test against exact counts, while the
    DuckDB oracle replays the estimator bit-for-bit.

    Plan: ONE map-side-combined groupBy on the group key (≤ m rows in,
    2 longs out per group)."""
    m, alpha_ppm, ln_table = hll_constants(p)
    group_cols = list(group_cols)
    ln_arr = F.array(*[F.lit(v) for v in ln_table])
    agg = registers.groupBy(*group_cols).agg(
        (F.lit(m) - F.count(F.lit(1))).cast("long").alias("v_zero"),
        F.sum(
            F.expr("cast(shiftleft(cast(1 as bigint), "
                   "cast(40 - m_rank as int)) as bigint)")
        ).cast("long").alias("_s_hit"),
    )
    s = F.col("_s_hit") + F.col("v_zero") * F.lit(1 << 40)
    est_raw = F.expr(
        f"cast((cast({alpha_ppm} as decimal(38,0)) * {m} * {m} * "
        f"cast({1 << 40} as decimal(38,0))) div "
        f"(cast(1000000 as decimal(38,0)) * "
        f"(_s_hit + v_zero * cast({1 << 40} as bigint))) as long)"
    )
    return agg.select(
        *group_cols,
        "v_zero",
        F.when(
            (est_raw <= F.lit(5 * m // 2)) & (F.col("v_zero") > 0),
            F.element_at(ln_arr, F.col("v_zero").cast("int")),
        )
        .otherwise(est_raw)
        .cast("long")
        .alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate — see
    :func:`hll_registers` (the mergeable sketch) and
    :func:`hll_estimate` (the exact-integer estimator) for the two
    halves this composes. Beside :func:`kmv_distinct`: KMV gives
    exact counts below k and supports set-overlap (kmv_overlap); HLL
    registers are 8× smaller per group, merge under max, and hold a
    single accuracy regime at any cardinality — profile-and-roll-up
    workloads want HLL, overlap/containment wants KMV."""
    return hll_estimate(
        hll_registers(df, value_col, group_cols, p), group_cols, p
    )


def hll_distinct_sql(
    table_expr: str,
    value_expr: str,
    group_cols: Sequence[str],
    p: int = 8,
) -> str:
    """DuckDB SQL replaying :func:`hll_distinct` bit-for-bit (the
    value oracle), constants inlined from the same
    :func:`hll_constants`."""
    m, alpha_ppm, ln_table = hll_constants(p)
    rem = 32 - p
    g = ", ".join(group_cols)
    h = md5_bigint_sql(value_expr)
    ln_arr = "[" + ", ".join(str(v) for v in ln_table) + "]"
    return f"""
        with hashed as (
            select {g}, ({h}) as h
            from {table_expr}
            where ({value_expr}) is not null
        ),
        ranked as (
            select {g},
                   h // {1 << rem} as register,
                   case when h % {1 << rem} = 0 then {rem + 1}
                        else {rem} - (length(bin(h % {1 << rem})) - 1)
                   end as rank
            from hashed
        ),
        regs as (
            select {g}, register, cast(max(rank) as bigint) as m_rank
            from ranked group by {g}, register
        ),
        agg as (
            select {g},
                   cast({m} - count(*) as bigint) as v_zero,
                   cast(sum(cast(1 as bigint) << cast(40 - m_rank as int))
                        as bigint) as s_hit
            from regs group by {g}
        )
        select {g}, v_zero,
               cast(case when (cast({alpha_ppm} as hugeint) * {m} * {m}
                               * cast({1 << 40} as hugeint))
                              // (cast(1000000 as hugeint)
                                  * (s_hit + v_zero
                                     * cast({1 << 40} as bigint)))
                              <= {5 * m // 2}
                          and v_zero > 0
                    then ({ln_arr})[cast(v_zero as int)]
                    else (cast({alpha_ppm} as hugeint) * {m} * {m}
                          * cast({1 << 40} as hugeint))
                         // (cast(1000000 as hugeint)
                             * (s_hit + v_zero
                                * cast({1 << 40} as bigint)))
               end as bigint) as est_distinct
        from agg
    """
