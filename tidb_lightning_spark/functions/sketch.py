"""Deterministic distinct-count sketching (HyperLogLog).

Why not approx_count_distinct: Spark's HLL++ and DuckDB's approx_distinct
use engine-private hash functions and bias tables — their estimates can
never hash-match, so the operator would be stuck with a rows-only
correctness check. This HLL builds on the repo's shared md5-derived
60-bit hash (functions.text.hash60 == its SQL twin), a CASE-ladder
leading-zero count, and exact power-of-two register arithmetic — every
step bit-reproducible in both engines, so the DuckDB oracle verifies the
ESTIMATES, not just the shape (the same philosophy as the IVF k-means
and histogram-quantile oracles).

Scale shape: one scan computes (group, register, rho); the only shuffle
carries (group, register, max-rho) after map-side combine — m=1024 longs
per group regardless of row count, the whole point of HLL at 100 TB.

Flajolet et al., "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm" (AofA 2007); small-range linear
counting per the original paper, large-range correction unnecessary in a
60-bit hash space.

Cross-libm note (the corpus_temperature_sample quantization question,
r6 advice): linear counting computes floor(m*ln(m/V) + 0.5) where V is
an INTEGER in [1, m-1] — only 1023 possible ln arguments. Enumerating
all of them, the closest any m*ln(m/V) comes to a rounding boundary is
6.7e-6 absolute (V=24), i.e. ~8e3 ulps of margin at that magnitude;
JVM StrictMath-adjacent ln and DuckDB's libm agree to <= 1 ulp, so the
rounded estimate is identical by ENUMERATION, not luck — no rate
quantization needed here, unlike pow() over a continuous operand.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_lightning_spark.functions.text import hash60, sql_hash60

HLL_P = 10  # 2^10 = 1024 registers -> ~3.25% standard error
HLL_M = 1 << HLL_P
HLL_W_BITS = 60 - HLL_P  # hash bits left for the rho pattern
# alpha_1024, computed ONCE here and embedded as the same literal in both
# engines (the approximation formula from the paper, m >= 128)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _rho(w: Column) -> Column:
    """Position of the first 1-bit of the W_BITS-wide value, 1-based;
    W_BITS+1 when w == 0. A generated comparison ladder — identical
    branch arithmetic in the SQL twin, with none of the cross-libm
    variance a log2() would smuggle in."""
    expr = F.lit(HLL_W_BITS + 1)  # w == 0
    for b in range(HLL_W_BITS):  # b = floor(log2(w)) -> rho = W_BITS - b
        expr = F.when(
            w >= F.lit(1 << b), F.lit(HLL_W_BITS - b)
        ).otherwise(expr)
    return expr


def _estimate_select(grouped: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group_cols..., est_distinct, registers_hit) from a frame carrying
    _si (exact scaled register sum) and _hit (non-empty register count) —
    the paper's estimator, shared by the direct sketch and the
    vector-merge path so both produce bit-identical numbers."""
    s = F.col("_si").cast("double") / F.lit(float(1 << (HLL_W_BITS + 1)))
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M))
        * F.lit(float(HLL_M))
        / (s + (F.lit(HLL_M) - F.col("_hit")).cast("double"))
    )
    zeros = (F.lit(HLL_M) - F.col("_hit")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros),
    ).otherwise(raw)
    return grouped.select(
        *group_cols,
        F.floor(est + F.lit(0.5)).cast("long").alias("est_distinct"),
        F.col("_hit").cast("long").alias("registers_hit"),
    )


def hll_distinct(
    df: DataFrame, key: Column | str, group_cols: list[str]
) -> DataFrame:
    """(group_cols..., est_distinct, registers_hit): HLL cardinality of
    `key` per group. est_distinct = round(E) where E follows the paper:
    alpha_m * m^2 / sum_j 2^-M_j, with linear counting m*ln(m/V) when
    E <= 2.5m and V empty registers remain."""
    k = F.col(key) if isinstance(key, str) else key
    h = hash60(k.cast("string"))
    reg = h.bitwiseAND(F.lit(HLL_M - 1))
    w = F.shiftright(h, HLL_P)
    per_reg = (
        df.select(*group_cols, reg.alias("_reg"), _rho(w).alias("_rho"))
        .groupBy(*group_cols, "_reg")
        .agg(F.max("_rho").alias("_m"))
    )
    # The 2^-M register sum is accumulated as EXACT integers scaled by
    # 2^W_BITS (2^(W_BITS-M) is an exact long for M in [1, W_BITS+1]):
    # float partial sums would be order-dependent once register exponents
    # spread past 53 bits, and a distributed aggregation does not control
    # order. One double division at the end, deterministic both engines.
    scaled = F.pow(
        F.lit(2.0), F.lit(HLL_W_BITS + 1) - F.col("_m")
    ).cast("long")  # M in [1, W_BITS+1] -> exact longs 2^0 .. 2^W_BITS
    # _hit counts REAL registers only (count(col) skips the NULL-key
    # phantom group): the phantom contributes its 2^-rho term to _si but
    # must not shrink zeros = m - hit — otherwise a saturated sketch
    # (all 1024 registers hit + a null key) pushes zeros to -1 and, once
    # s < 1, the denominator s + zeros goes negative (r7 advice).
    grouped = per_reg.groupBy(*group_cols).agg(
        F.sum(scaled).alias("_si"),
        F.count(F.col("_reg")).alias("_hit"),
    )
    return _estimate_select(grouped, group_cols)


def hll_register_vectors(
    df: DataFrame, key: Column | str, group_cols: list[str]
) -> DataFrame:
    """(group_cols..., regs: array<int> of length HLL_M + 1): the
    per-group HLL register maxima as a MERGEABLE vector — the
    standard warehouse surface: sketch each partition/table/day once,
    persist the ~1 KiB vector, union later with hll_merge instead of
    rescanning raw data. Slot HLL_M is the phantom NULL-key register
    (rho = W_BITS + 1 when any null key was seen), mirroring
    hll_distinct's null fold so vector estimates match the direct
    sketch bit-for-bit."""
    k = F.col(key) if isinstance(key, str) else key
    h = hash60(k.cast("string"))
    reg = F.coalesce(
        h.bitwiseAND(F.lit(HLL_M - 1)).cast("int"), F.lit(HLL_M)
    )
    w = F.shiftright(h, HLL_P)
    per_reg = (
        df.select(*group_cols, reg.alias("_reg"), _rho(w).alias("_rho"))
        .groupBy(*group_cols, "_reg")
        .agg(F.max("_rho").cast("int").alias("_m"))
    )
    return _assemble_vectors(per_reg, group_cols)


def _assemble_vectors(per_reg: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group, _reg, _m) -> (group, regs array): dense vector by a
    counting-sort walk over the reg-sorted entry list — one linear pass
    padding gaps with zeros. NOT a map lookup per index: element_at on
    a Catalyst map is a linear scan, so transform(sequence(0,m),
    i -> map[i]) is O(m^2) per group (measured 7x slower than this walk
    on saturated sketches). collect_list is bounded by the register
    count (<= HLL_M + 1 entries/group), never by row count."""
    ents = per_reg.groupBy(*group_cols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_reg"), F.col("_m")))
        ).alias("_ents")
    )
    regs = F.aggregate(
        F.col("_ents"),
        F.array().cast("array<int>"),
        lambda acc, e: F.concat(
            acc,
            F.array_repeat(F.lit(0), e["_reg"] - F.size(acc)),
            F.array(e["_m"]),
        ),
        lambda acc: F.concat(
            acc,
            F.array_repeat(F.lit(0), F.lit(HLL_M + 1) - F.size(acc)),
        ),
    )
    return ents.select(*group_cols, regs.alias("regs"))


def hll_merge(
    df: DataFrame, group_cols: list[str], regs_col: str = "regs"
) -> DataFrame:
    """Union of register vectors per group: element-wise max — the HLL
    merge monoid, so merging per-day (or per-table) sketches equals
    sketching the concatenated data exactly. Shuffle carries only
    (group, register, max) for non-empty registers."""
    ex = df.select(
        *group_cols, F.posexplode(regs_col).alias("_reg", "_m")
    ).filter(F.col("_m") > 0)
    merged = ex.groupBy(*group_cols, "_reg").agg(F.max("_m").alias("_m"))
    return _assemble_vectors(merged, group_cols)


def hll_estimate(
    df: DataFrame, group_cols: list[str], regs_col: str = "regs"
) -> DataFrame:
    """(group_cols..., est_distinct, registers_hit) from register
    vectors — the same estimator arithmetic as hll_distinct (exact
    scaled-integer register sum, linear counting branch), so
    estimate(merge(vectors)) == hll_distinct(all data) bit-for-bit."""
    nz = F.filter(F.col(regs_col), lambda r: r > 0)
    si = F.aggregate(
        nz,
        F.lit(0).cast("long"),
        lambda acc, r: acc
        + F.pow(F.lit(2.0), F.lit(HLL_W_BITS + 1) - r).cast("long"),
    )
    # _hit over the REAL slots [0, HLL_M) only — slot HLL_M is the
    # phantom NULL-key register, which feeds _si (its 2^-rho term) but
    # not the zeros/denominator count, matching hll_distinct's
    # count(_reg) null-skip (r7 advice: zeros must never reach -1).
    real = F.slice(F.col(regs_col), 1, HLL_M)
    grouped = df.select(
        *group_cols,
        si.alias("_si"),
        F.size(F.filter(real, lambda r: r > 0)).cast("long").alias("_hit"),
    )
    return _estimate_select(grouped, group_cols)


def sql_hll_distinct(
    table: str, key: str, group_cols: list[str], where: str = ""
) -> str:
    """DuckDB twin of hll_distinct — same hash, ladder, and estimator
    arithmetic, term for term."""
    ladder = f"{HLL_W_BITS + 1}"
    for b in range(HLL_W_BITS):
        ladder = (
            f"CASE WHEN w >= {1 << b} THEN {HLL_W_BITS - b} "
            f"ELSE {ladder} END"
        )
    g = ", ".join(group_cols)
    gsel = f"{g}, " if group_cols else ""  # empty -> one global sketch
    gby = f" GROUP BY {g}" if group_cols else ""
    h = sql_hash60(f"CAST({key} AS VARCHAR)")
    wsql = f" WHERE {where}" if where else ""
    return f"""
    WITH hashed AS (
      SELECT {gsel}h & {HLL_M - 1} AS reg, h >> {HLL_P} AS w
      FROM (SELECT {gsel}{h} AS h FROM {table}{wsql})
    ), regs AS (
      SELECT {gsel}reg,
             max({ladder}) AS m
      FROM hashed GROUP BY {gsel}reg
    ), agg AS (
      SELECT {gsel}
             CAST(sum(CAST(pow(2.0, {HLL_W_BITS + 1} - m) AS BIGINT))
                  AS DOUBLE) / CAST({float(1 << (HLL_W_BITS + 1))!r} AS DOUBLE) AS s,
             count(reg) AS hit
      FROM regs{gby}
    )
    SELECT {gsel}
           CAST(floor(
             CASE WHEN CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M)!r} AS DOUBLE) * CAST({float(HLL_M)!r} AS DOUBLE)
                       / (s + CAST({HLL_M} - hit AS DOUBLE))
                       <= CAST({2.5 * HLL_M!r} AS DOUBLE)
                   AND CAST({HLL_M} - hit AS DOUBLE) > 0
             THEN CAST({float(HLL_M)!r} AS DOUBLE)
                  * ln(CAST({float(HLL_M)!r} AS DOUBLE) / CAST({HLL_M} - hit AS DOUBLE))
             ELSE CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M)!r} AS DOUBLE) * CAST({float(HLL_M)!r} AS DOUBLE)
                  / (s + CAST({HLL_M} - hit AS DOUBLE))
             END + 0.5) AS BIGINT) AS est_distinct,
           CAST(hit AS BIGINT) AS registers_hit
    FROM agg
    """
