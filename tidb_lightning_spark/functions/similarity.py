"""Similarity search over embedding columns.

Two scale paths sit next to the exact brute-force top-k
(plans.queries.knn_cosine_bruteforce):

- random-hyperplane LSH for near-duplicate PAIR mining
  (lsh_near_dup_pairs). Buckets come from sign bits of dot products
  against hyperplanes derived deterministically from md5 (driver-side
  constants, see _plane), so every run and the DuckDB oracle see the
  same buckets;
- IVF (k-means lists + n_probe search) for per-query kNN (knn_ivf) and
  semantic dedup (semdedup).

The LSH index is MULTI-TABLE (the OR-of-ANDs construction, same shape as
the MinHash banding in functions.dedup): `n_tables` independent tables of
`n_planes` sign bits each; two rows are a candidate pair if they share
ALL bits of ANY table. Recall for a pair with per-plane agreement
probability p = 1 - angle/pi is 1 - (1 - p^n_planes)^n_tables — one table
of 6 planes recalls few pairs whose angle is 60-70 degrees (p^6 is
small); OR-ing tables is the standard repair.

Every cosine here and in the SQL oracles uses one left-to-right dot fold
(see dot), which is what lets the oracles replay whole pipelines
bit-for-bit.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _plane(p: int, dim: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5: a pure
    function of (table, p, d), so the Spark side and the SQL oracles
    embed the same constants (repr() of each double round-trips exactly
    into a DuckDB or Spark literal). Same planes plus the shared fold
    order of `dot` give the same buckets, candidates and re-rank in both
    engines — the bit-match argument every LSH oracle relies on."""
    out = []
    seed = p if table == 0 else f"{table}.{p}"
    for d in range(dim):
        h = hashlib.md5(f"tls-lsh:{seed}:{d}".encode()).digest()
        (u,) = struct.unpack("<Q", h[:8])
        out.append(u / 2**63 - 1.0)  # uniform [-1, 1)
    return out


def dot(a: Column, b: Column) -> Column:
    """Dot product as a left-to-right fold: `acc = acc + a_d * b_d` for
    d = 1..dim, one IEEE multiply and one add per dimension.

    This is the fold order every engine here shares: Catalyst's
    aggregate(zip_with) below, DuckDB's list_dot_product, the
    driver-side _py_dot, and the numpy paths (attach_buckets_df,
    lsh_near_dup_pairs), which accumulate dimension by dimension
    vectorized ACROSS rows or pairs, never within one. Same order, same
    rounding, so results are bit-identical: a bucket sign could flip only
    if |dot| were below one ulp, and two ranks swap only if
    |sim_a - sim_b| is below ~1e-13 — measure-zero on real-valued
    embeddings. Never use pairwise or compensated summation on a path
    an oracle replays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def bucket_expr(
    vec: Column, dim: int, n_planes: int, table: int = 0
) -> Column:
    """Pack sign bits of `n_planes` hyperplane dot products into an int.

    Executable specification: the Catalyst fold this expresses is what
    the numpy fast path (attach_buckets_df) and the SQL oracles must
    reproduce bit-for-bit; tests/test_similarity.py cross-checks the two
    on the fixture corpus. The production paths use attach_buckets_df —
    building this expression for all tables costs more in the analyzer
    than the data costs to process."""
    acc = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _plane(p, dim, table)])
        acc = acc + F.when(dot(vec, plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc


def attach_buckets_df(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """(_id, _v, _norm, _t, _b): every hash table's bucket id attached in
    ONE Arrow-batched pass. Buckets and norms use the numpy dim-by-dim
    accumulation — bit-identical to the Catalyst/DuckDB left-to-right
    fold (see dot), so downstream exact re-ranks and the SQL oracles
    agree. Building the buckets as Catalyst
    expressions instead (n_tables*n_planes*dim literal nodes) spent more
    time in the analyzer than in execution — measured seconds of plan
    overhead at any data size.

    `_id` keeps the source id column's type (string ids work — the old
    Catalyst path was type-agnostic and this one must stay so)."""
    import numpy as np
    import pandas as pd

    from tidb_lightning_spark._shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    id_type = df.schema[id_col].dataType.simpleString()

    plane_mat = np.array(
        [
            [_plane(p, dim, t) for p in range(n_planes)]
            for t in range(n_tables)
        ]
    ).reshape(n_tables * n_planes, dim)
    pw = plane_mat.T  # (dim, n_tables*n_planes)
    weights = (1 << np.arange(n_planes)).astype("int64")

    def attach(it):
        for pdf in it:
            if pdf.empty:
                continue
            V = np.stack(
                pdf[vec_col].map(
                    lambda v: np.asarray(v, dtype="float64")
                ).to_numpy()
            )
            norm2 = np.zeros(len(V))
            acc = np.zeros((len(V), n_tables * n_planes))
            for d in range(dim):
                acc += np.outer(V[:, d], pw[d])
                norm2 += V[:, d] * V[:, d]
            bits = (acc > 0).reshape(len(V), n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2)  # (N, n_tables)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "_v": [v for v in V for _ in range(n_tables)],
                    "_norm": np.repeat(np.sqrt(norm2), n_tables),
                    "_t": np.tile(np.arange(n_tables), len(V)),
                    "_b": buckets.ravel().astype("int64"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        attach,
        schema=(
            f"_id {id_type}, _v array<double>, _norm double, "
            "_t int, _b long"
        ),
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k_top: int = 20,
    n_planes: int = 3,
    n_tables: int = 12,
) -> DataFrame:
    """Top near-duplicate embedding PAIRS via multi-table LSH — the one
    pair miner: it never scores the O(n^2) all-pairs cross product.

    Shape: one scan attaches every table's bucket id; ONE exchange
    shuffles (id, vector) rows to their (table, bucket) groups; each
    bucket scores its intra-bucket pairs with the numpy dim-by-dim
    accumulation (bit-identical to the Catalyst/DuckDB left-to-right
    fold — see dot) and emits only its
    local top-k_top; a fixed-width (a, b, cosine) dedup + global top-k
    finishes. Per-bucket top-k is LOSSLESS for the global top-k: a
    global-top pair outranked by 20 pairs inside its own bucket is
    outranked by 20 pairs globally too. Scoring via a candidate
    id-join + per-pair interpreted folds was measured 5-8x slower —
    millions of candidate rows each paying a 64-step interpreted fold,
    vs 96 vectorized bucket blocks here. At 100 TB bucket width is
    bounded by adding planes; a hot bucket is one skewed task, the
    classic LSH trade."""
    import numpy as np
    import pandas as pd

    from tidb_lightning_spark._shipping import ensure_shipped

    ensure_shipped(df.sparkSession)

    ex = attach_buckets_df(
        df, id_col, vec_col, dim, n_planes, n_tables
    ).drop("_norm")
    # pair schema follows the id column's type (attach_buckets_df's
    # id-type-agnostic contract: string doc ids must not die at the
    # Arrow boundary — numpy's minimum/maximum order object arrays
    # elementwise with the same < the Spark plan would use)
    id_type = df.schema[id_col].dataType.simpleString()
    pd_id = "object" if id_type in ("string", "varchar") else "int64"

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a": [], "b": [], "cosine": []}).astype(
            {"a": pd_id, "b": pd_id, "cosine": "float64"}
        )
        if len(pdf) < 2:
            return empty
        V = np.stack(pdf["_v"].to_numpy())
        n = len(V)
        dotm = np.zeros((n, n))
        norm2 = np.zeros(n)
        for d in range(V.shape[1]):  # left-to-right fold, vectorized
            dotm += np.outer(V[:, d], V[:, d])
            norm2 += V[:, d] * V[:, d]
        norms = np.sqrt(norm2)
        cos = dotm / np.outer(norms, norms)
        ids = pdf["_id"].to_numpy()
        ii, jj = np.triu_indices(n, k=1)
        a, b = ids[ii], ids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        out = pd.DataFrame({"a": lo, "b": hi, "cosine": cos[ii, jj]})
        return out.sort_values(
            ["cosine", "a", "b"], ascending=[False, True, True]
        ).head(k_top)

    bucket_top = ex.groupBy("_t", "_b").applyInPandas(
        score, schema=f"a {id_type}, b {id_type}, cosine double"
    )
    # multi-table collisions: identical sims, fold to one row per pair
    pairs = bucket_top.groupBy("a", "b").agg(F.max("cosine").alias("cosine"))
    return pairs.orderBy(F.col("cosine").desc(), "a", "b").limit(k_top)


def sql_lsh_near_dup_pairs(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    k_top: int = 20,
    n_planes: int = 3,
    n_tables: int = 12,
) -> str:
    """DuckDB twin of lsh_near_dup_pairs (full pipeline, same plane
    constants — see _plane and dot for the bit-match argument)."""

    def plane_lit(p: int, t: int) -> str:
        return "[" + ", ".join(repr(v) for v in _plane(p, dim, t)) + "]"

    bucket_cols = ",\n             ".join(
        "("
        + " + ".join(
            f"(CASE WHEN list_dot_product(e, {plane_lit(p, t)}) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        + f") AS b{t}"
        for t in range(n_tables)
    )
    b_list = ", ".join(f"b{t}" for t in range(n_tables))
    return f"""
    WITH v AS (
      SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS e FROM {table}
    ), bkt AS (
      SELECT id, e, sqrt(list_dot_product(e, e)) AS norm,
             {bucket_cols}
      FROM v
    ), ex AS (
      SELECT id, unnest(generate_series(0, {n_tables - 1})) AS t,
             unnest([{b_list}]) AS b
      FROM bkt
    ), cand AS (
      SELECT DISTINCT x.id AS a, y.id AS b
      FROM ex x JOIN ex y ON x.t = y.t AND x.b = y.b AND x.id < y.id
    ), scored AS (
      SELECT cand.a, cand.b,
             list_dot_product(va.e, vb.e) / (va.norm * vb.norm) AS cosine
      FROM cand
        JOIN bkt va ON va.id = cand.a
        JOIN bkt vb ON vb.id = cand.b
    )
    SELECT a, b, cosine FROM scored
    ORDER BY cosine DESC, a, b
    LIMIT {k_top}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to LSH
# ---------------------------------------------------------------------------

N_LISTS = 16
N_PROBE = 4
KMEANS_ITERS = 2
# centroid means are quantized to 1e-6 via exact BIGINT sums so training
# is bit-stable across engines (same trick as plans.queries
# embedding_centroids): a bigint sum is order-independent, so Spark's
# partition-parallel aggregation and DuckDB's serial one produce the
# SAME centroid doubles, and the full k-means replay can be a SQL oracle
IVF_QUANT = 1e6


def _py_dot(a: list[float], b: list[float]) -> float:
    """Driver-side left-fold dot product — the SAME rounding sequence as
    the Catalyst `dot` fold and DuckDB's list_dot_product (see dot).
    Used for centroid norm constants, so never math.fsum here —
    pairwise/compensated summation would break the parity."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _sql_double_array(vals: list[float]) -> str:
    """array(...) SQL literal of doubles. repr() is Python's shortest
    round-trip decimal and Spark's `<decimal>D` literal parses via
    Double.parseDouble (correctly rounded), so the JVM double is
    bit-identical to the driver-side float."""
    return "array(" + ",".join(f"{v!r}D" for v in vals) + ")"


def _sql_dot(vec_sql: str, arr_sql: str) -> str:
    """SQL text of the SAME left-to-right dot fold as dot() — identical
    Catalyst tree (aggregate over zip_with), just parsed JVM-side."""
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _centroid_dist_structs(
    vec_sql: str, centroids: list[list[float]]
) -> list[str]:
    """(dist_i, i) struct SQL fragments with dist_i = ||c_i||^2 -
    2*dot(v, c_i): argmin-equivalent to squared Euclidean (the dot(v,v)
    term is constant per row) and, unlike a zip_with (x-y)^2 fold, built
    from the SAME left-to-right dot fold DuckDB's list_dot_product uses —
    the property the full-pipeline IVF SQL oracle needs for bit-stable
    assignment. Emitted as SQL text rather than Column objects: the
    Column form cost n_lists*dim py4j round trips PER expression build
    (~1 s of pure driver time each at dim 64), where one F.expr parse
    builds the identical tree JVM-side."""
    entries = []
    for i, c in enumerate(centroids):
        d = (
            f"{_py_dot(c, c)!r}D - 2.0D * "
            f"{_sql_dot(vec_sql, _sql_double_array(c))}"
        )
        entries.append(f"named_struct('dist', {d}, 'idx', {i})")
    return entries


def _nearest_centroid(vec_sql: str, centroids: list[list[float]]) -> Column:
    """argmin_i ||vec - c_i||^2 as a pure Catalyst expression: an array of
    (dist, idx) structs reduced with array_min (struct ordering compares
    dist first). Centroids are driver-side constants -> broadcast literals;
    the whole expression is ONE F.expr parse (see _centroid_dist_structs)."""
    return F.expr(
        "array_min(array("
        + ",".join(_centroid_dist_structs(vec_sql, centroids))
        + ")).idx"
    )


def train_ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = N_LISTS,
    iters: int = KMEANS_ITERS,
) -> list[list[float]]:
    """Distributed Lloyd's k-means, deterministic seeding, BIT-STABLE
    across engines.

    Seeds = the n_lists corpus vectors with the smallest md5(id) (a
    deterministic pseudo-random draw — no RNG, stable across runs and
    resumes). Each iteration: broadcast centroids, assign every vector to
    its nearest centroid (one scan, no shuffle of the vectors), then
    per-dimension means via posexplode + groupBy — the shuffle payload is
    (cluster, dim, partial sums), i.e. O(n_lists * dim) per partition
    after map-side combine, not the corpus.

    The per-dimension mean is sum(floor(x*1e6)) / (1e6*count) — an exact
    BIGINT numerator, so the result does not depend on partition count or
    aggregation order. That makes the whole training replayable inside a
    DuckDB oracle (sql_knn_ivf) AND resume-stable, where a float avg()
    drifts in the last ulp with the shuffle layout. Accuracy cost vs a
    true mean is < 1e-6 per coordinate — far below the cluster geometry.

    At 100 TB you train on a sample; callers pass df.sample(...) for
    that — the math is identical.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    )
    # the seed draw + every Lloyd iteration is a separate driver-side
    # action over the same (id, vec) projection — persist it once so
    # iterations re-read cached vectors instead of re-scanning parquet
    # and re-casting per round (guide §5: reuse justifies the cache; the
    # handle is released before returning)
    base = base.persist()
    seeds = (
        base.withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h")
        .limit(n_lists)
        .select("_v")
        .collect()
    )
    centroids = [list(r["_v"]) for r in seeds]
    for _ in range(iters):
        assigned = base.withColumn(
            "_c", _nearest_centroid("_v", centroids)
        )
        means = (
            assigned.select("_c", F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_c", "_d")
            .agg(
                F.sum(
                    F.floor(F.col("_x") * F.lit(IVF_QUANT)).cast("long")
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        new = {}
        for r in means:
            # same two-step rounding as the SQL twin:
            # CAST(s AS DOUBLE) / (1e6 * n)
            new.setdefault(r["_c"], {})[r["_d"]] = r["_s"] / (
                IVF_QUANT * r["_n"]
            )
        centroids = [
            [new[i][d] for d in sorted(new[i])] if i in new else centroids[i]
            for i in range(n_lists)
        ]
    base.unpersist()
    return centroids


def knn_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter,
    k: int = 5,
    n_lists: int = N_LISTS,
    n_probe: int = N_PROBE,
    centroids: list[list[float]] | None = None,
    sim_band: tuple[float, float] | None = None,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their nearest-centroid list;
    each query probes its n_probe closest lists and exact-cosine re-ranks
    the candidates. n_probe == n_lists degrades to exact brute force
    (the property the unit test asserts).

    Scale shape: one corpus scan to attach `_list` (centroids broadcast
    as literals), queries broadcast; the join fans out each corpus row to
    at most the probing queries of its list — the corpus never
    self-joins or shuffles.
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = train_ivf_centroids(df, id_col, vec_col, n_lists)

    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_norm", F.sqrt(dot(F.col("_v"), F.col("_v"))))
    base = base.withColumn("_list", _nearest_centroid("_v", centroids))

    # per-query probe set: the n_probe nearest centroid ids, as an array
    # (same ||c||^2 - 2*dot distance as assignment — one formula, both
    # engines; see _centroid_dist_structs); one F.expr parse
    probe = F.expr(
        "transform(slice(array_sort(array("
        + ",".join(_centroid_dist_structs("_qv", centroids))
        + f")), 1, {n_probe}), s -> s.idx)"
    )

    q = (
        base.filter(query_filter(F.col("_id")))
        .select(
            F.col("_id").alias("query_id"),
            F.col("_v").alias("_qv"),
            F.col("_norm").alias("_qnorm"),
        )
        .withColumn("_probe", probe)
    )
    pairs = base.join(
        F.broadcast(q),
        F.array_contains(F.col("_probe"), F.col("_list"))
        & (F.col("_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("_id").alias("neighbor_id"),
        (dot(F.col("_qv"), F.col("_v")) / (F.col("_qnorm") * F.col("_norm"))).alias(
            "sim"
        ),
    )
    if sim_band is not None:
        # hard-negative band: keep candidates whose similarity sits
        # between the easy floor and the positive ceiling; the compare
        # is on the same bit-stable double the ranking already trusts
        lo, hi = sim_band
        pairs = pairs.filter(
            (F.col("sim") >= F.lit(lo)) & (F.col("sim") <= F.lit(hi))
        )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("cosine"))
    )


def sql_knn_ivf(
    table: str,
    id_col: str,
    vec_col: str,
    query_where: str,
    dim: int,
    k: int = 5,
    n_lists: int = N_LISTS,
    n_probe: int = N_PROBE,
    iters: int = KMEANS_ITERS,
    sim_band: tuple[float, float] | None = None,
) -> str:
    """DuckDB twin of knn_ivf — the FULL pipeline including k-means
    training, not a reference answer. Replayable because every step is
    deterministic and bit-stable across engines:

    - seeds: the n_lists vectors with the smallest md5(id) — identical
      lowercase-hex ordering in both engines;
    - sim_band, when given, filters candidates to [lo, hi] before
      ranking — the hard-negative-mining face;
    - assignment distance: ||c||^2 - 2*dot(v,c), where dot is the same
      left-to-right fold in Catalyst, Python (centroid constants) and
      DuckDB's list_dot_product (see dot);
    - centroid means: exact BIGINT sums of floor(x*1e6), divided as
      CAST(s AS DOUBLE)/(1e6*n) — order-independent, so Spark's
      partition-parallel aggregate equals DuckDB's serial one bit-for-bit
      (see train_ivf_centroids);
    - ties: (dist, idx) ordering both sides.

    The `iters` Lloyd iterations are unrolled as CTE pairs
    (assign -> quantized means), mirroring the driver loop."""
    prefix = _sql_kmeans_prefix(table, id_col, vec_col, dim, n_lists, iters)
    band = (
        f" WHERE sim >= {sim_band[0]!r} AND sim <= {sim_band[1]!r}"
        if sim_band is not None
        else ""
    )
    return f"""{prefix},
    bkt AS (
      SELECT id, e, sqrt(list_dot_product(e, e)) AS norm FROM v
    ), probe AS (
      SELECT query_id, idx FROM (
        SELECT v.id AS query_id, c.idx,
               row_number() OVER (
                 PARTITION BY v.id
                 ORDER BY c.cn2 - 2.0 * list_dot_product(v.e, c.c), c.idx
               ) AS pr
        FROM v, cent{iters} c
        WHERE {query_where}
      ) WHERE pr <= {n_probe}
    ), cand AS (
      SELECT p.query_id, a.id AS neighbor_id
      FROM probe p JOIN al a ON a._c = p.idx AND a.id <> p.query_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(qv.e, nv.e) / (qv.norm * nv.norm) AS sim
      FROM cand
        JOIN bkt qv ON qv.id = cand.query_id
        JOIN bkt nv ON nv.id = cand.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored{band}
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(sim, 4) AS cosine
    FROM ranked WHERE rank <= {k}"""


def _sql_kmeans_prefix(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_lists: int,
    iters: int,
) -> str:
    """The shared DuckDB k-means training scaffold (seeds -> unrolled
    Lloyd iterations -> final assignment `al`, centroids `cent{iters}`)
    used by both full-pipeline oracles, sql_knn_ivf and sql_semdedup —
    one text, so the engines' bit-stability contract (see
    train_ivf_centroids) is pinned in exactly one place."""
    q = IVF_QUANT

    def assign(src_cent: str) -> str:
        return f"""(
      SELECT id, e, _c FROM (
        SELECT v.id, v.e, c.idx AS _c,
               row_number() OVER (
                 PARTITION BY v.id
                 ORDER BY c.cn2 - 2.0 * list_dot_product(v.e, c.c), c.idx
               ) AS rn
        FROM v, {src_cent} c
      ) WHERE rn = 1
    )"""

    steps = []
    for i in range(iters):
        steps.append(f"a{i} AS {assign(f'cent{i}')}")
        steps.append(f"""m{i + 1} AS (
      SELECT _c, d, SUM(CAST(floor(e[d] * {q!r}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM a{i}, dims GROUP BY _c, d
    )""")
        steps.append(f"""cent{i + 1} AS (
      SELECT p.idx, COALESCE(m.c, p.c) AS c,
             list_dot_product(COALESCE(m.c, p.c), COALESCE(m.c, p.c)) AS cn2
      FROM cent{i} p LEFT JOIN (
        SELECT _c AS idx,
               list(CAST(s AS DOUBLE) / ({q!r} * n) ORDER BY d) AS c
        FROM m{i + 1} GROUP BY _c
      ) m ON m.idx = p.idx
    )""")
    iter_ctes = ",\n    ".join(steps)
    return f"""
    WITH v AS (
      SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS e FROM {table}
    ), dims AS (
      SELECT unnest(generate_series(1, {dim})) AS d
    ), cent0 AS (
      SELECT idx, c, list_dot_product(c, c) AS cn2 FROM (
        SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1
                 AS idx,
               e AS c
        FROM v
      ) WHERE idx < {n_lists}
    ),
    {iter_ctes},
    al AS {assign(f"cent{iters}")}
    """


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tau: float,
    n_lists: int = N_LISTS,
    iters: int = KMEANS_ITERS,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Semantic dedup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster the
    embeddings with k-means, then within each cluster suppress vectors
    whose cosine to an already-ranked vector reaches `tau`. Rank order is
    the paper's keeper preference — ascending cosine to the own-cluster
    centroid (the LEAST prototypical member of a duplicate neighborhood
    survives), ties by id. A vector is pruned when ANY earlier-ranked
    clustermate is tau-close (one-pass pairwise suppression: equivalent
    to the paper's greedy sweep whenever duplicate groups are
    tau-transitive, and never keeps more than it).

    Scale shape (the paper's own cost argument): candidate pairs exist
    only WITHIN a cluster, so the quadratic term is sum(n_c^2) ~= n^2/k
    instead of n^2 — choose k ~ sqrt(n) (and sub-split outlier-heavy
    clusters) to hold cluster populations flat as the corpus grows. One
    corpus scan attaches (cluster, centroid-cos); the self-join shuffles
    on the cluster key only. Training runs on a sample at 100 TB
    (callers pass df.sample(...) to train_ivf_centroids — the math is
    identical; see that docstring).

    Bit-stable across engines end-to-end (same contract as knn_ivf):
    md5 seeding, BIGINT-quantized means, one shared left-fold dot
    product — so sql_semdedup replays the ENTIRE pipeline, training
    included, and the tau comparison sees identical doubles."""
    import math

    from pyspark.sql import Window

    if centroids is None:
        centroids = train_ivf_centroids(df, id_col, vec_col, n_lists, iters)

    base = (
        df.select(
            F.col(id_col).alias("_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_norm", F.sqrt(dot(F.col("_v"), F.col("_v"))))
        .withColumn("_list", _nearest_centroid("_v", centroids))
    )
    # cosine to the assigned centroid: pick this row's entry out of the
    # per-centroid literal array (centroid norms are driver-side sqrt of
    # the same left-fold self-dot DuckDB computes as list_dot_product);
    # one F.expr parse instead of n_lists*dim py4j literal calls
    ccos_all = F.expr(
        "array("
        + ",".join(
            f"{_sql_dot('_v', _sql_double_array(c))}"
            f" / (_norm * {math.sqrt(_py_dot(c, c))!r}D)"
            for c in centroids
        )
        + ")"
    )
    ranked = base.withColumn(
        "_ccos", F.element_at(ccos_all, F.col("_list") + 1)
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("_list").orderBy(F.asc("_ccos"), F.asc("_id"))
        ),
    )
    # `ranked` feeds three plan branches (both self-join sides + the
    # final left join); without a persist each branch re-scans the
    # corpus and re-runs the window shuffle. Refcounted cache, released
    # when the caller drops the result (functions.dedup idiom).
    from tidb_lightning_spark.functions import dedup as _D

    ranked = _D.cache_acquire(ranked)
    later = ranked.select("_id", "_v", "_norm", "_list", "_rk")
    earlier = ranked.select(
        F.col("_id").alias("_eid"),
        F.col("_v").alias("_ev"),
        F.col("_norm").alias("_enorm"),
        F.col("_list").alias("_elist"),
        F.col("_rk").alias("_erk"),
    )
    pruned = (
        later.join(
            earlier,
            (F.col("_list") == F.col("_elist"))
            & (F.col("_erk") < F.col("_rk")),
        )
        .filter(
            dot(F.col("_v"), F.col("_ev"))
            / (F.col("_norm") * F.col("_enorm"))
            >= F.lit(tau)
        )
        .select("_id")
        .distinct()
        .withColumn("_pruned", F.lit(1))
    )
    out = (
        ranked.join(pruned, "_id", "left")
        .select(
            F.col("_id").alias("vec_id"),
            F.col("_list").cast("int").alias("cluster"),
            F.round("_ccos", 4).alias("centroid_cos"),
            F.when(F.col("_pruned").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("vec_id")
    )
    out = _D._unpersist_on_gc(out, ranked)
    _D.cache_release(ranked)
    return out


def sql_semdedup(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    tau: float,
    n_lists: int = N_LISTS,
    iters: int = KMEANS_ITERS,
) -> str:
    """DuckDB twin of semdedup — the FULL pipeline including k-means
    training (shared scaffold _sql_kmeans_prefix; bit-stability contract
    in train_ivf_centroids). Norms and cosines use the identical
    operand order as the Spark side so the `>= tau` comparison is made
    on identical doubles."""
    prefix = _sql_kmeans_prefix(table, id_col, vec_col, dim, n_lists, iters)
    return f"""{prefix},
    scored AS (
      SELECT a.id, a._c, a.e,
             sqrt(list_dot_product(a.e, a.e)) AS nrm,
             list_dot_product(a.e, c.c)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(c.cn2)) AS ccos
      FROM al a JOIN cent{iters} c ON c.idx = a._c
    ), ranked AS (
      SELECT id, _c, e, nrm, ccos,
             row_number() OVER (
               PARTITION BY _c ORDER BY ccos ASC, id) AS rk
      FROM scored
    ), pruned AS (
      SELECT DISTINCT x.id
      FROM ranked x JOIN ranked y ON y._c = x._c AND y.rk < x.rk
      WHERE list_dot_product(x.e, y.e) / (x.nrm * y.nrm) >= {tau!r}
    )
    SELECT r.id AS vec_id, CAST(r._c AS INT) AS cluster,
           round(r.ccos, 4) AS centroid_cos,
           CAST(CASE WHEN p.id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM ranked r LEFT JOIN pruned p ON p.id = r.id
    ORDER BY vec_id"""
