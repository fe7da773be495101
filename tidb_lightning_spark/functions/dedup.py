"""Deduplication operators for large corpora (beyond-reference surface):
exact (see plans.queries.dedup_exact_documents), MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Cross-engine reproducibility: every hash is the md5->15-hex->BIGINT
construction; shingling/tokenization matches functions/text.py. Spark
implementations are pure Catalyst higher-order functions (no UDFs); each
has an ANSI-SQL twin for the DuckDB oracle.

Scale notes (100 TB): MinHash/SimHash signatures are one linear scan with
map-side-only work; the LSH band join shuffles (band_hash) pairs — a few
hundred bytes per doc, not the corpus. Embedding-cosine pairs are mined by
the hyperplane LSH in functions/similarity.py (lsh_near_dup_pairs), never
by an all-pairs join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_lightning_spark.functions.text import (
    TOKEN_WS,
    hash60,
    sql_hash60,
    tokens,
)

N_MINHASH = 64
N_BANDS = 8
BAND_R = 8  # rows per band; N_BANDS * BAND_R == N_MINHASH
SHINGLE_K = 3


# Spark's cache manager is PLAN-keyed, not handle-keyed: unpersisting a
# DataFrame evicts the cache entry of every semantically-equal plan. Two
# back-to-back calls of the same operator build identical plans, so a
# naive gc-finalizer for call #1 would evict the cache call #2 just
# populated (measured: dedup_keep_best write went 0.3 s -> 5-8 s whenever
# the previous handle happened to be collected mid-run). Refcount by
# semantic hash so only the LAST live handle of a plan unpersists it.
# All read-modify-writes hold _CACHE_LOCK: weakref finalizers run on
# whatever thread drops the last reference, and driver code may persist
# from table-concurrency worker threads — unsynchronized interleaving
# could under/over-unpersist a shared plan. RLock, not Lock: a gc pass
# can fire a finalizer ON the thread that already holds the lock (any
# allocation inside the locked region may trigger collection), and the
# finalizer's _cleanup re-enters. NOTE an external
# spark.catalog.clearCache() (e.g. bench warmup) evicts blocks without
# touching these counts; outstanding handles then harmlessly recompute.
_CACHE_REFS: dict[int, int] = {}
_CACHE_LOCK = __import__("threading").RLock()


def _plan_key(df: DataFrame) -> int:
    return df._jdf.queryExecution().analyzed().semanticHash()


def cache_acquire(df: DataFrame) -> DataFrame:
    """Register a persist() with the plan-keyed refcount. Every explicit
    persist inside this module MUST pair with cache_release (or transfer
    ownership via _unpersist_on_gc) — a raw .unpersist() bypasses the
    refcount and evicts the cache of ANY semantically-equal plan another
    holder still owns (Spark's cache manager is plan-keyed)."""
    key = _plan_key(df)
    with _CACHE_LOCK:
        _CACHE_REFS[key] = _CACHE_REFS.get(key, 0) + 1
    df.persist()
    return df


def cache_release(df: DataFrame) -> None:
    """Decrement the plan's refcount; unpersist only as the last holder."""
    key = _plan_key(df)
    with _CACHE_LOCK:
        n = _CACHE_REFS.get(key, 1) - 1
        if n > 0:
            _CACHE_REFS[key] = n
            return
        _CACHE_REFS.pop(key, None)
    try:
        df.unpersist(False)
    except Exception:
        pass


def _unpersist_on_gc(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Release persisted intermediates when `result` is dropped by the
    caller. A returned lazy DataFrame outlives the function that persisted
    its inputs, so an in-function unpersist would defeat the cache; tying
    the unpersist to the result's lifetime frees the blocks as soon as the
    caller discards the result (promptly under CPython refcounting) —
    long-lived sessions no longer accumulate leaked cache entries.

    Caveat (correctness-neutral): a caller that DERIVES a plan and drops
    the handle (`lsh_candidate_pairs(...).filter(...)`) releases the
    cache before execution and simply recomputes the signatures — derived
    Spark plans hold no Python reference to `result`. Callers composing
    further should keep the returned object alive until their action
    runs, via hold_cache()."""
    import weakref

    keyed = []
    for c in cached:
        key = _plan_key(c)
        with _CACHE_LOCK:
            _CACHE_REFS[key] = _CACHE_REFS.get(key, 0) + 1
        keyed.append((key, c))

    def _cleanup(dfs=keyed):
        for key, c in dfs:
            with _CACHE_LOCK:
                n = _CACHE_REFS.get(key, 1) - 1
                if n > 0:
                    _CACHE_REFS[key] = n
                    continue  # an identical live plan still owns this cache
                _CACHE_REFS.pop(key, None)
            try:
                c.unpersist(False)
            except Exception:
                pass  # session already stopped

    weakref.finalize(result, _cleanup)
    return result


def hold_cache(result: DataFrame, *holders: DataFrame) -> DataFrame:
    """Make a DERIVED plan keep its parents' gc-tied caches alive.

    The caveat on _unpersist_on_gc: a caller that builds on a returned
    DataFrame (join/filter/window) and drops the original handle loses
    the persisted intermediates before its own action runs — Spark plans
    hold no Python reference to the parent object, so the weakref
    finalizer fires and the action recomputes the full lineage (for
    near_dup_clusters that is the whole LSH pipeline plus every
    propagation round, measured 17x slower). Attaching the parents to
    the derived result extends the caches' lifetime to the composed
    plan's."""
    existing = getattr(result, "_tls_cache_holders", ())
    result._tls_cache_holders = tuple(existing) + holders
    return result

# MinHash permutation family: one base hash per shingle, then 64 linear
# permutations h_j = (a_j*h + b_j) mod M over the Mersenne prime M=2^31-1.
# One md5 instead of 64 per shingle (the dominant cost), and a_j*h < 2^62
# never overflows BIGINT, so DuckDB reproduces the values with plain
# integer arithmetic.
#
# Banding (b=8 bands of r=8 rows): a candidate pair must agree on ALL 8
# minhashes of some band. With r=1 (round 1) any two docs sharing ONE
# popular min-shingle collided — on templated corpora that is a quadratic
# hot bucket; at r=8 the collision probability is j^8 per band (j =
# Jaccard), so ~0.9-similar pairs still collide (1-(1-0.43)^8 ~ 99%)
# while ~0.3-similar ones effectively never do (8 * 0.3^8 ~ 5e-4).
MERSENNE31 = (1 << 31) - 1
PERM_A = [(j * 2654435761 + 40503) % MERSENNE31 or 1 for j in range(N_MINHASH)]
PERM_B = [(j * 1779033703 + 7) % MERSENNE31 for j in range(N_MINHASH)]


def shingles_of(t: Column, orig: Column) -> Column:
    """Word 3-gram shingles from a PRE-TOKENIZED array column `t`;
    whole original text (`orig`) as fallback for short docs.

    `t` must be a bound attribute (a real column materialized by a
    prior projection), not an inline tokens(...) expression: the gram
    lambda references it SHINGLE_K times per element, and an inline
    expression inside a higher-order-function lambda sits outside
    codegen's common-subexpression elimination — the regex split would
    re-run 3x per shingle, O(tokens * chars) per doc (the langid
    r12 finding, 2x there for a single inline lower())."""
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (SHINGLE_K - 1), F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + off) for off in range(SHINGLE_K)]
        ),
    )
    return F.when(n >= SHINGLE_K, grams).otherwise(F.array(orig))


def shingles(col: Column) -> Column:
    """Word 3-gram shingles; whole text as fallback for short docs.

    NOTE: prefer materializing tokens() as a column and calling
    shingles_of(t, col) — this convenience form inlines the tokenizer
    into the gram lambda and re-tokenizes per element (see shingles_of
    docstring). Kept for short-text/test call sites only."""
    return shingles_of(tokens(col), col)


def shingled_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, s) — one row per (doc, shingle occurrence), tokenizing each
    doc exactly ONCE: tokens() is materialized as a column in its own
    projection so the gram lambda reads a bound attribute (shingles_of
    contract). The shared scan shape for every shingle consumer."""
    toks = df.select(
        F.col(id_col),
        F.col(text_col),
        tokens(F.col(text_col)).alias("_t"),
    )
    return toks.select(
        F.col(id_col),
        F.explode(
            shingles_of(F.col("_t"), F.col(text_col))
        ).alias("s"),
    )


def minhash_wide_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, mh0..mh63) — one row per doc, the full MinHash signature.

    Shape: explode shingles once -> ONE base hash per shingle -> 64 linear
    permutations -> 64 map-side-combinable MIN aggregates. Only (id, 64
    longs) ever shuffles; building the minhashes as one nested expression
    would recompute the shingle array per hash and fall out of codegen
    (measured 40x slower), and salting 64 separate md5s multiplies the
    scan time vs the permutation family.
    """
    sh = shingled_rows(df, id_col, text_col)
    # each permutation agg is ONE F.expr parse (not ~6 py4j Column calls
    # x 64 permutations per build — measured ~0.5 s of pure driver time
    # per call site); the parsed tree is identical: same %, same
    # bigint literals, same min aggregate
    h31 = (
        "(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) "
        f"% {MERSENNE31}L)"
    )
    return sh.groupBy(id_col).agg(
        *[
            F.expr(
                f"min(({PERM_A[j]}L * {h31} + {PERM_B[j]}L) "
                f"% {MERSENNE31}L)"
            ).alias(f"mh{j}")
            for j in range(N_MINHASH)
        ]
    )


def minhash_signature_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, hash_idx, minhash) — exploded signature rows."""
    mins = minhash_wide_df(df, id_col, text_col)
    pairs = F.expr(
        "array("
        + ",".join(
            f"named_struct('hash_idx', {j}, 'minhash', mh{j})"
            for j in range(N_MINHASH)
        )
        + ")"
    )
    return (
        mins.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, "p.hash_idx", "p.minhash")
    )


def band_hashes_df(wide: DataFrame, id_col: str) -> DataFrame:
    """(id, band_idx, band_hash) from a wide signature — band_hash is a
    60-bit hash of the band's r concatenated minhashes, so the LSH join
    key is (int, long), a few bytes/doc/band on the wire."""
    # ONE F.expr parse for the whole band array (identical tree: same
    # concat_ws/md5/conv chain per band) instead of ~12 py4j Column
    # calls x 8 bands per build
    def band_sql(b: int) -> str:
        cols = ", ".join(
            f"CAST(mh{b * BAND_R + r} AS STRING)" for r in range(BAND_R)
        )
        return (
            f"named_struct('band_idx', {b}, 'band_hash', "
            f"CAST(conv(substring(md5(concat_ws('_', {cols})), 1, 15), "
            f"16, 10) AS BIGINT))"
        )

    bands = F.expr(
        "array(" + ",".join(band_sql(b) for b in range(N_BANDS)) + ")"
    )
    return wide.select(F.col(id_col), F.explode(bands).alias("p")).select(
        id_col, "p.band_idx", "p.band_hash"
    )


def signature_agreement(a_pref: str, b_pref: str) -> Column:
    """MinHash similarity estimate between two wide signatures whose
    components are aliased `{a_pref}{j}` / `{b_pref}{j}`: the fraction
    of the N_MINHASH components that agree. The ONE estimator
    expression — shared by lsh_candidate_pairs, the incremental-
    admission query (plans/queries.py dedup_incremental_vs_reference)
    and the streaming near-dup admission path (streaming/curation.py),
    so a change to N_MINHASH or the estimator cannot silently diverge
    between batch and streaming semantics."""
    m = " + ".join(
        f"(CASE WHEN {a_pref}{j} = {b_pref}{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    # one F.expr parse; same left-associated integer sum, same
    # double-divide (when/otherwise IS a CASE WHEN)
    return F.expr(f"CAST({m} AS DOUBLE) / {float(N_MINHASH)!r}D")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(a, b, est_jaccard) — banded-LSH near-duplicate candidates.

    Pipeline: wide signatures (one corpus scan) -> 8 band hashes/doc ->
    self-join on (band_idx, band_hash) -> distinct pairs -> join the two
    full signatures back to estimate Jaccard as the fraction of the 64
    minhashes that agree. The self-join shuffles (int, long) keys, the
    estimate joins shuffle (id, 64 longs) — never the text. Hot buckets
    are genuinely-identical content (exact dedup's job); dissimilar docs
    sharing popular shingles no longer collide (r=8 banding).

    Cache lifetimes: by default the wide signature DF is persisted here
    and released when the RETURNED handle is garbage-collected — a
    caller that derives a plan and drops the handle
    (`lsh_candidate_pairs(...).filter(...)`) would silently recompute
    signatures. Composing callers pass `signatures=` (a persisted
    `minhash_wide_df(df, id_col, text_col)`) instead: the function then
    never touches the cache lifetime, the caller unpersists after its
    action runs, and every derived plan reuses the one cached scan
    (tests/test_dedup_cache.py asserts the InMemoryTableScan)."""
    if signatures is not None:
        wide = signatures
    else:
        wide = minhash_wide_df(df, id_col, text_col).persist()
    bands = band_hashes_df(wide, id_col)
    left = bands.select(
        F.col(id_col).alias("_a"), "band_idx", "band_hash"
    )
    right = bands.select(
        F.col(id_col).alias("_b"), "band_idx", "band_hash"
    )
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("_a") < F.col("_b"))
        .select("_a", "_b")
        .distinct()
    )
    # selectExpr: one py4j call for the 65-column rename (vs 65 Column
    # calls per side)
    wa = wide.selectExpr(
        f"{id_col} AS _a",
        *[f"mh{j} AS a{j}" for j in range(N_MINHASH)],
    )
    wb = wide.selectExpr(
        f"{id_col} AS _b",
        *[f"mh{j} AS b{j}" for j in range(N_MINHASH)],
    )
    result = (
        cand.join(wa, "_a")
        .join(wb, "_b")
        .select(
            F.col("_a").alias("a"),
            F.col("_b").alias("b"),
            signature_agreement("a", "b").alias("est_jaccard"),
        )
    )
    if signatures is not None:
        return result  # the caller owns the signature cache lifetime
    return _unpersist_on_gc(result, wide)


def _sql_wide_ctes(table: str, id_col: str, text_col: str) -> str:
    """Shared DuckDB CTE chain ending in `sig` = the wide (id, mh0..mh63)
    signature. DuckDB's scalar range(a,b) returns the list [a, b), so
    shingling is a list_transform — the same shape as the Spark side."""
    t = f"list_filter(string_split_regex({text_col}, '{TOKEN_WS}'), x -> x != '')"
    parts = " || ' ' || ".join(f"t[i+{off}]" for off in range(SHINGLE_K))
    h31 = f"({sql_hash60('s')} % {MERSENNE31})"
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> "
        f"({PERM_A[j]} * {h31} + {PERM_B[j]}) % {MERSENNE31})) AS mh{j}"
        for j in range(N_MINHASH)
    )
    return (
        f"tk AS (SELECT {id_col}, {text_col} AS txt, {t} AS t FROM {table}), "
        f"sh AS (SELECT {id_col}, CASE WHEN len(t) >= {SHINGLE_K} THEN "
        f"list_transform(range(1, len(t) - {SHINGLE_K - 2}), i -> {parts}) "
        f"ELSE [txt] END AS sh FROM tk), "
        f"sig AS (SELECT {id_col}, {mins} FROM sh)"
    )


def sql_minhash_signatures(table: str, id_col: str, text_col: str) -> str:
    """CTE query: (id, hash_idx, minhash) exploded signature rows (DuckDB)."""
    unions = " UNION ALL ".join(
        f"SELECT {id_col}, {j} AS hash_idx, mh{j} AS minhash FROM sig"
        for j in range(N_MINHASH)
    )
    return f"WITH {_sql_wide_ctes(table, id_col, text_col)} {unions}"


def sql_lsh_candidate_pairs(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of lsh_candidate_pairs: banded join + signature-match
    Jaccard estimate."""
    band_rows = " UNION ALL ".join(
        "SELECT {id}, {b} AS band_idx, {h} AS band_hash FROM sig".format(
            id=id_col,
            b=b,
            h=sql_hash60(
                "concat_ws('_', "
                + ", ".join(f"mh{b * BAND_R + r}" for r in range(BAND_R))
                + ")"
            ),
        )
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    return (
        f"WITH {_sql_wide_ctes(table, id_col, text_col)}, "
        f"bands AS ({band_rows}), "
        f"cand AS (SELECT DISTINCT ba.{id_col} AS a, bb.{id_col} AS b "
        f"FROM bands ba JOIN bands bb ON ba.band_idx = bb.band_idx "
        f"AND ba.band_hash = bb.band_hash AND ba.{id_col} < bb.{id_col}) "
        f"SELECT cand.a, cand.b, CAST(({matches}) AS DOUBLE) / {N_MINHASH}.0 "
        f"AS est_jaccard "
        f"FROM cand JOIN sig sa ON sa.{id_col} = cand.a "
        f"JOIN sig sb ON sb.{id_col} = cand.b"
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 25,
) -> tuple[DataFrame, int]:
    """(id, cluster_id = min id reachable), rounds used — alternating
    large-star/small-star contraction (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    Beyond"): O(log^2 n) rounds regardless of component DIAMETER, where
    plain min-label propagation needs O(diameter) shuffle rounds — a
    chain-shaped duplicate cluster at PB scale would cost hundreds.

    `nodes` is one `id` column; `edges` is (src, dst) in any orientation.

    Per alternation (all edges kept oriented big->small, no self-loops):
      large-star: every node links its LARGER neighbors to the minimum
        of its closed neighborhood — long chains fold toward minima;
      small-star: every node rewires its smaller neighbors (and itself)
        onto its minimum neighbor — stars flatten to depth one.
    Both are one groupBy(min) + one join; convergence = identical
    (count, xor of edge hashes) fingerprint two alternations running
    (xor is order-independent and collision-safe in 64 bits at any
    realistic edge count). At the fixpoint every non-root points
    straight at its component's minimum id.

    Each round's edge set is localCheckpoint'ed (eager): persist alone
    keeps the FULL lineage, so Catalyst re-analyzes an O(rounds)-deep
    plan every round — measured minutes of pure planning by round ~9 on
    a 200-edge graph. Truncating lineage keeps per-round cost flat (the
    same reason GraphFrames checkpoints its CC loop); executor-local
    checkpoint storage is the right durability trade for a loop that
    re-runs from scratch on failure anyway."""
    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rounds = 0
    prev_fp = None
    for _ in range(max_rounds):
        # large-star: m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for v > u
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("u", "_mv").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the (big -> small) orientation: m(u) = min
        # neighbor; every other small neighbor AND u itself link to m
        mn = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mn, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mn.select("u", F.col("m").alias("v")))
            .distinct()
            # LAZY checkpoint: the fingerprint collect right below is the
            # round's first action, so it materializes the checkpoint
            # blocks AND computes the fingerprint in ONE job — the eager
            # form ran a materialization job plus a separate fingerprint
            # job every round (2x the per-round job latency, measured
            # ~0.4 s/round of pure scheduling at sf0.1). Lineage is
            # truncated identically once the blocks exist.
            .localCheckpoint(eager=False)
        )
        rounds += 1
        fp = (
            small.select(F.xxhash64("u", "v").alias("h"))
            .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x"))
            .collect()[0]
        )
        e = small
        if prev_fp == (fp["n"], fp["x"]) or fp["n"] == 0:
            # fixpoint reached — or the contracted edge set is empty
            # (isolated nodes only), which is trivially a fixpoint and
            # needs no confirming alternation
            break
        prev_fp = (fp["n"], fp["x"])
    labels = (
        nodes.select(F.col(nodes.columns[0]).alias("id"))
        .join(e.groupBy("u").agg(F.min("v").alias("_root")),
              F.col("id") == F.col("u"), "left")
        .select(
            "id", F.coalesce(F.col("_root"), F.col("id")).alias("cluster_id")
        )
    )
    return labels, rounds


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_iter: int = 20,
) -> DataFrame:
    """(id, cluster_id) — connected components over the thresholded LSH
    candidate graph: every doc labeled with the minimum id reachable
    through near-duplicate edges (cluster_id == id -> the canonical copy
    to KEEP; the rest are near-dup drops). This is the
    cluster-then-keep-canonical step of a dedup pipeline.

    Components are solved by the alternating large-star/small-star
    contraction (see connected_components): round count is O(log^2 n) in
    the component SIZE, independent of its diameter — the
    chain-of-duplicates topology that costs min-label propagation one
    shuffle round per link (hundreds at PB scale) converges in a handful
    of alternations (tests/test_dedup.py pins the bound on a 200-chain).
    """
    # own the signature cache explicitly: the derived .filter/.select
    # below drops lsh_candidate_pairs' returned handle, which under the
    # GC-tied default would release the cache before edges materialize
    # and recompute every signature (the API caveat this parameter
    # exists for)
    sigs = cache_acquire(minhash_wide_df(df, id_col, text_col))
    edges = (
        lsh_candidate_pairs(df, id_col, text_col, signatures=sigs)
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    labels, _rounds = connected_components(
        df.select(F.col(id_col).alias("id")), edges, max_rounds=max_iter
    )
    cache_release(sigs)
    # labels reads the loop's final localCheckpoint — the JVM plan holds
    # the checkpointed blocks, so no gc-tied cache handles are needed
    return labels.select(F.col("id").alias(id_col), F.col("cluster_id"))


def sql_near_dup_clusters(
    table: str, id_col: str, text_col: str, threshold: float = 0.5
) -> str:
    """DuckDB twin: recursive CTE computing min-reachable-id per node over
    the same thresholded LSH edges."""
    pairs = sql_lsh_candidate_pairs(table, id_col, text_col)
    return (
        f"WITH RECURSIVE pairs AS ({pairs}), "
        f"edges AS (SELECT a AS src, b AS dst FROM pairs "
        f"WHERE est_jaccard >= {threshold} "
        f"UNION ALL SELECT b, a FROM pairs WHERE est_jaccard >= {threshold}), "
        f"reach(id, label) AS ("
        f"  SELECT {id_col}, {id_col} FROM {table} "
        f"  UNION "
        f"  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id"
        f") "
        f"SELECT id AS {id_col}, min(label) AS cluster_id "
        f"FROM reach GROUP BY id"
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit, term-frequency weighted)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — 16-bit locality-sensitive fingerprint.

    Explode tokens -> per-bit signed counts -> sign -> packed int. The
    groupBy is map-side combinable; the shuffled payload is 16 longs/doc.
    """
    return _simhash_n_df(df, id_col, text_col, SIMHASH_BITS)


def _simhash_n_df(
    df: DataFrame, id_col: str, text_col: str, n_bits: int
) -> DataFrame:
    """Shared n-bit simhash builder. The per-bit signed sums and the
    bit-pack are each ONE F.expr parse (identical trees to the former
    per-bit Column chains: same shiftright/&/*2-1 sum, same
    CASE-WHEN > 0 power-of-two pack) instead of ~6 py4j calls x n_bits
    aggregates + ~5 x n_bits pack calls per build — measured ~1.2 s of
    pure driver time per near_dup_simhash_pairs construction at n=60
    (the k-means/minhash r12 finding, simhash edition)."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", hash60(F.col("tok")))
    sums = ", ".join(
        f"sum((shiftright(h, {i}) & 1) * 2 - 1) AS s{i}"
        for i in range(n_bits)
    )
    per_bit = tok.groupBy(id_col).agg(
        F.expr(f"struct({sums})").alias("_ss")
    )
    packed = " + ".join(
        f"(CASE WHEN _ss.s{i} > 0 THEN {1 << i}L ELSE 0L END)"
        for i in range(n_bits)
    )
    return per_bit.select(
        F.col(id_col),
        F.expr(f"CAST({packed} AS BIGINT)").alias("simhash"),
    )


def sql_simhash(table: str, id_col: str, text_col: str) -> str:
    toks = (
        f"SELECT {id_col}, unnest(list_filter("
        f"string_split_regex({text_col}, '{TOKEN_WS}'), x -> x != '')) AS tok "
        f"FROM {table}"
    )
    h = sql_hash60("tok")
    sums = ", ".join(
        f"sum(((({h}) >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return (
        f"SELECT {id_col}, CAST({bits} AS BIGINT) AS simhash FROM "
        f"(SELECT {id_col}, {sums} FROM ({toks}) GROUP BY {id_col})"
    )


# ---------------------------------------------------------------------------
# Token-set Jaccard
# ---------------------------------------------------------------------------


def jaccard_tokens(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct token sets (deterministic int division)."""
    ta, tb = F.array_distinct(tokens(a)), F.array_distinct(tokens(b))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")


def sql_jaccard_tokens(a: str, b: str) -> str:
    ta = f"list_distinct(list_filter(string_split_regex({a}, '{TOKEN_WS}'), x -> x != ''))"
    tb = f"list_distinct(list_filter(string_split_regex({b}, '{TOKEN_WS}'), x -> x != ''))"
    inter = f"len(list_intersect({ta}, {tb}))"
    union = f"(len({ta}) + len({tb}) - {inter})"
    return f"(CAST({inter} AS DOUBLE) / CAST(greatest({union}, 1) AS DOUBLE))"


SIMHASH60_BITS = 60  # full width of hash60; 4 x 15-bit pigeonhole segments


def simhash60_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — 60-bit term-frequency-weighted fingerprint.

    The 16-bit simhash_df is a compact per-doc signature for grouping;
    at 60 bits the Hamming ball is selective enough to make PAIR mining
    meaningful (16 bits over a 500-doc corpus already puts ~everything
    within distance 3 of something). Same shape: explode tokens, one
    hash per token, per-bit signed sums (map-side combinable, 60
    longs/doc shuffled), sign -> packed bigint."""
    return _simhash_n_df(df, id_col, text_col, SIMHASH60_BITS)


def sql_simhash60(table: str, id_col: str, text_col: str) -> str:
    toks = (
        f"SELECT {id_col}, unnest(list_filter("
        f"string_split_regex({text_col}, '{TOKEN_WS}'), x -> x != '')) AS tok "
        f"FROM {table}"
    )
    h = sql_hash60("tok")
    sums = ", ".join(
        f"sum(((({h}) >> {i}) & 1) * 2 - 1) AS s{i}"
        for i in range(SIMHASH60_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(SIMHASH60_BITS)
    )
    return (
        f"SELECT {id_col}, CAST({bits} AS BIGINT) AS simhash FROM "
        f"(SELECT {id_col}, {sums} FROM ({toks}) GROUP BY {id_col})"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the
# MOSS local document fingerprinting algorithm). A rolling set of char
# k-gram hashes is thinned by taking the minimum of every window of w
# consecutive positions: any shared substring of length >= w + k - 1 is
# GUARANTEED to contribute at least one identical fingerprint to both
# documents (the winnowing guarantee), while expected density is only
# 2/(w+1) of the raw k-gram stream. Complements MinHash (set-overlap
# similarity, probabilistic) and SimHash (weighted Hamming proximity):
# winnowing detects verbatim PASSAGE reuse — contiguous plagiarized /
# boilerplate spans — which set-based sketches dilute on long documents.
#
# The hash is the repo-wide md5->15-hex->BIGINT (hash60), applied to each
# k-gram substring of the normalized text, so the fingerprint set is
# bit-identical in Spark and the DuckDB oracle. Position information is
# deliberately dropped (DISTINCT fingerprint values per doc): the dedup
# use-case keys on "how much fingerprint mass is shared", not where.

WINNOW_K = 8  # char k-gram width over the normalized text
WINNOW_W = 4  # window: every w consecutive grams yield >= 1 fingerprint
WINNOW_MAX_DF = 20  # fingerprints in more docs than this are boilerplate


def _winnow_norm(col: Column) -> Column:
    """Lower-case and strip every non-alphanumeric char: whitespace and
    punctuation carry no reuse signal and would break k-gram alignment
    across reflowed text."""
    return F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), "[^a-z0-9]", "")


def winnow_fingerprints_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp) — the DISTINCT winnowed fingerprint set per document.

    Shape: one linear scan; all k-gram hashing and window-min selection
    is per-row Catalyst array math (transform/slice/array_min inside
    whole-stage codegen — no UDF, no shuffle). Only (id, fp) longs leave
    the scan stage. Short docs (< k chars after normalization) hash the
    whole remnant as one gram so every doc owns >= 1 fingerprint.
    """
    n_grams = F.greatest(F.length("_s") - (WINNOW_K - 1), F.lit(1))
    base = (
        df.select(
            F.col(id_col), _winnow_norm(F.col(text_col)).alias("_s")
        )
        .withColumn(
            "_g",
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: hash60(F.col("_s").substr(i, F.lit(WINNOW_K))),
            ),
        )
    )
    mins = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size("_g") - (WINNOW_W - 1), F.lit(1))
        ),
        lambda j: F.array_min(F.slice("_g", j, WINNOW_W)),
    )
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp")
    )


def sql_winnow_fingerprints(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of winnow_fingerprints_df: same normalization, same
    hash60 per k-gram, window-min via a frame of w rows ordered by gram
    position, DISTINCT values per doc. `i <= greatest(n - (w-1), 1)`
    keeps exactly the full windows (plus the single short-doc window)."""
    h = sql_hash60(f"substr(_s, CAST(i AS INT), {WINNOW_K})")
    return f"""
    SELECT DISTINCT {id_col}, fp FROM (
      SELECT {id_col}, i,
             min({h}) OVER (PARTITION BY {id_col} ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY {id_col}) AS n
      FROM (
        SELECT {id_col}, _s,
               unnest(range(1, greatest(length(_s) - {WINNOW_K - 1}, 1) + 1)) AS i
        FROM (SELECT {id_col},
                     regexp_replace(lower(coalesce({text_col}, '')), '[^a-z0-9]', '', 'g') AS _s
              FROM {table})
      )
    ) WHERE i <= greatest(n - {WINNOW_W - 1}, 1)
    """
