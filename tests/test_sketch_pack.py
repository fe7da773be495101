"""Deterministic HLL distinct sketch + sequence packing.

Both operators' cross-engine bit-parity is covered by
tests/test_oracle_parity.py once registered; these tests pin the
SEMANTIC guarantees: HLL accuracy vs exact, and packing invariants
under a budget small enough to force multi-sequence packing."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from tidb_lightning_spark.functions import sketch as SK
from tidb_lightning_spark.plans import queries as Q

from .conftest import SF_CORRECTNESS


def test_hll_estimate_within_5pct_of_exact(spark):
    e = Q.load(spark, SF_CORRECTNESS, "events")
    got = {
        r["event_type"]: r
        for r in SK.hll_distinct(e, "user_id", ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        est = got[k]["est_distinct"]
        assert abs(est - n) / n <= 0.05, f"{k}: est {est} vs exact {n}"


def test_hll_higher_cardinality_key(spark):
    """event_id is unique per row (~10k at sf0.01) — exercises the HLL
    estimator beyond the linear-counting regime and against the SQL twin
    bit-for-bit."""
    e = Q.load(spark, SF_CORRECTNESS, "events")
    row = SK.hll_distinct(e, "event_id", []).collect()[0]
    n = e.select("event_id").distinct().count()
    assert abs(row["est_distinct"] - n) / n <= 0.11  # ~3 sigma at m=1024
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{SF_CORRECTNESS}/events.parquet'"
    )
    sql = SK.sql_hll_distinct("events", "event_id", [])
    got = con.execute(sql).fetchone()
    assert got[0] == row["est_distinct"] and got[1] == row["registers_hit"]


def test_pack_sequences_invariants(spark):
    """Small budget (16 tokens) on the fixture corpus: offsets stay
    inside the budget, sequence ids are the running-total chunks, and
    per-bucket token accounting is exact."""
    d = Q.load(spark, SF_CORRECTNESS, "documents").filter(F.col("doc_id") < 200)
    packed = Q.pack_sequences_df(d, budget_bits=4, n_buckets=8).collect()
    assert len(packed) == 200
    budget = 1 << 4
    by_bucket: dict[int, list] = {}
    for r in packed:
        assert 0 <= r["token_offset"] < budget
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert any(
        max(r["seq_in_bucket"] for r in rows) > 0
        for rows in by_bucket.values()
    ), "budget too large to exercise multi-sequence packing"
    for rows in by_bucket.values():
        # reconstruct the stream: start positions must be the cumsum
        rows.sort(key=lambda r: (r["seq_in_bucket"], r["token_offset"]))
        # the stream position of each doc = seq*budget + offset must be
        # strictly increasing by exactly n_tokens of the previous doc
        pos = 0
        for r in sorted(
            rows,
            key=lambda r: (
                r["seq_in_bucket"] * budget + r["token_offset"],
                r["n_tokens"],  # a zero-token doc shares its successor's
            ),  # position; order it first so the accounting stays exact
        ):
            assert r["seq_in_bucket"] * budget + r["token_offset"] == pos
            pos += r["n_tokens"]


def test_pack_sequences_matches_sql_twin_small_budget(spark):
    d = Q.load(spark, SF_CORRECTNESS, "documents").filter(F.col("doc_id") < 120)
    got = sorted(
        tuple(r)
        for r in Q.pack_sequences_df(d, budget_bits=4, n_buckets=8).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_CORRECTNESS}/documents.parquet' WHERE doc_id < 120"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            Q.sql_pack_sequences(budget_bits=4, n_buckets=8)
        ).fetchall()
    )
    assert got == want


def test_hll_merge_of_slices_equals_direct(spark):
    """hll_estimate(hll_merge(per-slice vectors)) must equal
    hll_distinct over the concatenated data EXACTLY — register max is a
    monoid, so any partitioning of the input merges back losslessly."""
    from tidb_lightning_spark.sources.parquet_source import read_table

    e = read_table(spark, f"{SF_CORRECTNESS}/events.parquet")
    direct = {
        r["event_type"]: (r["est_distinct"], r["registers_hit"])
        for r in SK.hll_distinct(e, "user_id", ["event_type"]).collect()
    }
    sliced = e.withColumn("_slice", F.pmod(F.col("event_id"), F.lit(3)))
    vecs = SK.hll_register_vectors(
        sliced, "user_id", ["event_type", "_slice"]
    )
    merged = SK.hll_merge(vecs, ["event_type"])
    got = {
        r["event_type"]: (r["est_distinct"], r["registers_hit"])
        for r in SK.hll_estimate(merged, ["event_type"]).collect()
    }
    assert got == direct


def test_hll_vectors_fold_null_keys_like_direct(spark):
    """A null key lands in the phantom register slot (index HLL_M) so
    vector estimates match hll_distinct's null fold."""
    df = spark.createDataFrame(
        [(None,), (1,), (2,), (None,)], "user_id bigint"
    ).withColumn("g", F.lit("a"))
    direct = SK.hll_distinct(df, "user_id", ["g"]).collect()[0]
    vec = SK.hll_register_vectors(df, "user_id", ["g"])
    row = vec.collect()[0]
    assert len(row["regs"]) == SK.HLL_M + 1
    assert row["regs"][SK.HLL_M] == SK.HLL_W_BITS + 1
    est = SK.hll_estimate(vec, ["g"]).collect()[0]
    assert (est["est_distinct"], est["registers_hit"]) == (
        direct["est_distinct"], direct["registers_hit"],
    )


def test_bpe_merge_ltr_semantics_on_runs(spark):
    """The double-separator replace trick must reproduce canonical
    greedy left-to-right BPE on self-pair runs: 'aaa' -> [aa, a],
    'aaaa' -> [aa, aa], 'abab' with merge (a,b) -> [ab, ab]."""
    from pyspark.sql import functions as F

    from tidb_lightning_spark.plans.queries import BPE_SEP

    s2 = BPE_SEP + BPE_SEP

    def segs_after_merge(word: str, l: str, r: str) -> list[str]:
        df = spark.createDataFrame([(word,)], "w string")
        seg0 = F.concat(
            F.lit(s2),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.substr(F.col("w"), i, F.lit(1)),
                ),
                s2,
            ),
            F.lit(s2),
        )
        pattern = BPE_SEP + l + s2 + r + BPE_SEP
        repl = BPE_SEP + l + r + BPE_SEP
        out = df.select(
            F.filter(
                F.split(
                    F.replace(seg0, F.lit(pattern), F.lit(repl)), s2
                ),
                lambda x: x != "",
            ).alias("t")
        ).collect()[0]["t"]
        return list(out)

    assert segs_after_merge("aaa", "a", "a") == ["aa", "a"]
    assert segs_after_merge("aaaa", "a", "a") == ["aa", "aa"]
    assert segs_after_merge("aaaaa", "a", "a") == ["aa", "aa", "a"]
    assert segs_after_merge("abab", "a", "b") == ["ab", "ab"]
    assert segs_after_merge("aab", "a", "b") == ["a", "ab"]
    assert segs_after_merge("abx", "a", "b") == ["ab", "x"]
    # prefix/suffix must NOT false-match: merging (a,b) leaves (a,bx)
    assert segs_after_merge("ab", "a", "b") == ["ab"]


def test_bpe_train_merges_are_monotone_and_composed(spark):
    """Merge counts never increase with step (greedy argmax over a
    shrinking pair population can only see <= the previous max), and a
    later merge may build on an earlier merged symbol."""
    from tidb_lightning_spark.plans import queries as Q

    from .conftest import SF_CORRECTNESS

    rows = Q.bpe_train_merges_sampled(spark, SF_CORRECTNESS).collect()
    assert len(rows) == Q.BPE_MERGES
    ns = [r["n_occurrences"] for r in rows]
    assert all(a >= b for a, b in zip(ns, ns[1:])), ns
    for r in rows:
        assert r["merged"] == r["left"] + r["right"]
