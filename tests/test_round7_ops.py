"""Invariant tests for the round-7 operators (oracle parity already
hash-verifies values; these pin semantic properties on crafted inputs
the fixture can't express)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tidb_lightning_spark.plans import queries as Q

from .conftest import EVENT_SCHEMA, SF_CORRECTNESS


def test_rfm_hist_cells_partition_customers(spark, duck):
    rows = Q.customer_rfm_segments_hist(spark, SF_CORRECTNESS).collect()
    n_customers = duck.execute(
        "SELECT count(DISTINCT o_custkey) FROM orders"
    ).fetchone()[0]
    assert sum(r["n_customers"] for r in rows) == n_customers
    for r in rows:
        assert 1 <= r["r"] <= 5 and 1 <= r["f"] <= 5 and 1 <= r["m"] <= 5


def test_zipf_profile_invariants(spark):
    r = Q.corpus_zipf_profile(spark, SF_CORRECTNESS).collect()[0]
    assert r["n_tokens"] >= r["n_types"] > 0
    assert 0.0 < r["top10_share"] <= r["top100_share"] <= 1.0
    assert 0.0 <= r["hapax_frac"] <= 1.0


def test_sessionize_known_gaps(spark, tmp_path, monkeypatch):
    """3 users: u1 has two sessions (90-min gap), u2 one session of one
    event, u3 one session of three tight events."""
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, minutes):
        return Row(
            event_id=eid,
            ts=t0 + datetime.timedelta(minutes=minutes),
            user_id=uid,
            event_type="view",
            value=1.0,
            props="{}",
        )

    rows = [
        ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 100),  # gap 90 min -> 2 sess
        ev(4, 2, 0),
        ev(5, 3, 0), ev(6, 3, 5), ev(7, 3, 29),
    ]
    d = str(tmp_path / "sess_events")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(d)
    # point the loader at the crafted table
    import tidb_lightning_spark.plans.queries as QQ

    orig = QQ.load
    monkeypatch.setattr(
        QQ,
        "load",
        lambda sp, sf, t: sp.read.parquet(d) if t == "events"
        else orig(sp, sf, t),
    )
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in QQ.sessionize_events(spark, SF_CORRECTNESS).collect()
    }
    at = lambda m: t0 + datetime.timedelta(minutes=m)  # noqa: E731
    assert got == {
        (1, at(0)): (2, 2.0),
        (1, at(100)): (1, 1.0),
        (2, at(0)): (1, 1.0),
        (3, at(0)): (3, 3.0),
    }


def test_int8_quantization_bounds_and_recall_range(spark):
    out = Q.embedding_int8_recall(spark, SF_CORRECTNESS).collect()
    assert len(out) == 5
    for r in out:
        assert 0 <= r["n_overlap"] <= 10
        assert 0.0 <= r["recall_at_10"] <= 1.0
    # int8 on 64-dim unit-ish vectors should retain most of the top-10
    assert sum(r["n_overlap"] for r in out) >= 35, out


def test_13gram_short_docs_never_contaminated(spark, duck):
    rows = {
        r["doc_id"]: r
        for r in Q.split_contamination_13gram(
            spark, SF_CORRECTNESS
        ).collect()
    }
    short = {
        r[0]
        for r in duck.execute(
            "SELECT doc_id FROM documents WHERE "
            "len(string_split_regex(text, '[ ]+')) < 13"
        ).fetchall()
    }
    for doc_id, r in rows.items():
        if doc_id in short:
            assert r["n_grams"] == 0 and not r["is_contaminated"]
        assert r["n_contaminated"] <= r["n_grams"]


def test_cms_estimate_never_underestimates(spark):
    for r in Q.top_tokens_cms(spark, SF_CORRECTNESS).collect():
        assert r["cms_n"] >= r["exact_n"], (
            "Count-Min must only overestimate"
        )
        assert r["inflation"] == r["cms_n"] - r["exact_n"]


def test_mixture_schedule_invariants(spark):
    rows = Q.corpus_mixture_schedule(spark, SF_CORRECTNESS).collect()
    assert rows
    assert sum(r["natural_share"] for r in rows) == pytest.approx(1.0)
    assert sum(r["target_share"] for r in rows) == pytest.approx(1.0)
    total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        # effective tokens = target share of the one-corpus budget
        assert r["effective_tokens"] == pytest.approx(
            r["target_share"] * total, abs=1.0
        )
        # epochs uses the UNfloored share (effective_tokens floors)
        assert r["epochs"] == pytest.approx(
            r["target_share"] * total / r["n_tokens"], rel=1e-9
        )
    # temperature < 1 damps: the largest source is subsampled, the
    # smallest upsampled, relative to natural share
    big = max(rows, key=lambda r: r["n_tokens"])
    small = min(rows, key=lambda r: r["n_tokens"])
    assert big["target_share"] < big["natural_share"]
    assert small["target_share"] > small["natural_share"]


# --- winnowing fingerprints (MOSS) + interval join (second r7 pass) ----


def _doc_df(spark, docs):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    )


def test_winnow_guarantee_shared_passage(spark):
    """The winnowing guarantee: any shared normalized run of length
    >= w + k - 1 chars must contribute >= 1 identical fingerprint to
    both documents — even when the docs are otherwise disjoint."""
    from tidb_lightning_spark.functions import dedup as D

    passage = "the quick brown fox jumps over the lazy dog tonight"
    a = "completely unrelated preamble text here. " + passage
    b = passage + " and some other totally different trailing content."
    fps = D.winnow_fingerprints_df(
        _doc_df(spark, [a, b]), "doc_id", "text"
    ).collect()
    sets = {0: set(), 1: set()}
    for r in fps:
        sets[r["doc_id"]].add(r["fp"])
    assert sets[0] & sets[1], "shared passage produced no common fingerprint"


def test_winnow_disjoint_docs_share_nothing(spark):
    from tidb_lightning_spark.functions import dedup as D

    a = "alpha bravo charlie delta echo foxtrot golf hotel india"
    b = "zero nine eight seven six five four three two one launch"
    fps = D.winnow_fingerprints_df(
        _doc_df(spark, [a, b]), "doc_id", "text"
    ).collect()
    sa = {r["fp"] for r in fps if r["doc_id"] == 0}
    sb = {r["fp"] for r in fps if r["doc_id"] == 1}
    assert sa and sb and not (sa & sb)


def test_winnow_short_and_empty_docs(spark):
    """Docs shorter than k (after normalization) still own exactly one
    fingerprint (the whole-remnant gram), so no doc silently drops out
    of the dedup surface."""
    from tidb_lightning_spark.functions import dedup as D

    fps = D.winnow_fingerprints_df(
        _doc_df(spark, ["ab", "!!!", ""]), "doc_id", "text"
    ).collect()
    per = {}
    for r in fps:
        per.setdefault(r["doc_id"], []).append(r["fp"])
    assert set(per) == {0, 1, 2}
    assert all(len(v) == 1 for v in per.values())
    # "!!!" and "" normalize identically -> identical fingerprint
    assert per[1] == per[2]


def test_winnow_density_bound(spark, duck):
    """Expected winnowing density is 2/(w+1) of the gram stream; assert
    the per-doc fingerprint count never exceeds the hard ceiling (one
    per window) and is positive."""
    from tidb_lightning_spark.functions import dedup as D

    rows = (
        D.winnow_fingerprints_df(
            Q.load(spark, SF_CORRECTNESS, "documents"), "doc_id", "text"
        )
        .groupBy("doc_id")
        .count()
        .collect()
    )
    lens = dict(
        duck.execute(
            "SELECT doc_id, length(regexp_replace(lower(text),"
            " '[^a-z0-9]', '', 'g')) FROM documents"
        ).fetchall()
    )
    assert len(rows) == len(lens)
    for r in rows:
        n_grams = max(lens[r["doc_id"]] - (D.WINNOW_K - 1), 1)
        n_windows = max(n_grams - (D.WINNOW_W - 1), 1)
        assert 1 <= r["count"] <= n_windows


def test_interval_join_matches_naive_range_join(spark):
    """Bucketization completeness: the bucketed equi-join + residual
    must equal the naive range join, including boundary events exactly
    at lo (included) and at hi (excluded) and events landing in the
    window's second half-hour bucket."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 10, 13, 0)  # mid-bucket start
    mins = dt.timedelta(minutes=1)

    def ev(eid, offset_min, etype="view", value=1.0):
        return Row(
            event_id=eid,
            ts=t0 + offset_min * mins,
            user_id=1,
            event_type=etype,
            value=float(value),
            props="{}",
        )

    rows = [
        ev(100, 0, etype="purchase", value=99.0),  # opens [t0, t0+30min)
        ev(1, 0),            # ts == lo -> included
        ev(2, 16),           # crosses into the next half-hour bucket
        ev(3, 29),           # last included minute
        ev(4, 30),           # ts == hi -> excluded
        ev(5, -1),           # before lo -> excluded
        ev(6, 300),          # far away
    ]
    df = spark.createDataFrame(rows)
    from tidb_lightning_spark.plans import queries as QQ

    windows = df.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 95.0)
    ).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
    )
    wb = windows.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                QQ._ts_bucket(F.col("lo")), QQ._ts_bucket(F.col("hi"))
            )
        ),
    )
    eb = df.select("event_id", "ts").withColumn(
        "bucket", QQ._ts_bucket(F.col("ts"))
    )
    got = sorted(
        r["event_id"]
        for r in eb.join(wb, "bucket")
        .filter((F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
        .select("event_id")
        .collect()
    )
    naive = sorted(
        r["event_id"]
        for r in df.alias("e")
        .join(
            windows.alias("w"),
            (F.col("e.ts") >= F.col("w.lo")) & (F.col("e.ts") < F.col("w.hi")),
        )
        .select("e.event_id")
        .collect()
    )
    assert got == naive == [1, 2, 3, 100]


def test_sqldump_cache_registry_is_thread_local(spark, tmp_path):
    """table_concurrency > 1 over SQL-dump tables: the parsed-row
    caches belong to the `_import_rows` call that imports each table,
    one list per engine, so one table's engine-commit release or final
    release can never unpersist another in-flight table's parsed-rows
    cache (instance-level lists raced; engine index k collides across
    tables). Engine-granular plan on both tables (tiny engine_bytes ->
    one file per engine) to exercise the per-engine release
    concurrently."""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")

    def write(path, content):
        import os

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(content)

    write(f"{d}/c-schema-create.sql", "CREATE DATABASE IF NOT EXISTS c;")
    for t in ("t1", "t2"):
        write(
            f"{d}/c.{t}-schema.sql",
            f"CREATE TABLE {t} (a INT PRIMARY KEY, b VARCHAR(16));",
        )
        for part in (1, 2, 3):
            rows = ",".join(
                f"({part * 100 + i}, '{t}_{part}_{i}')" for i in range(40)
            )
            write(
                f"{d}/c.{t}.{part:09d}.sql",
                f"INSERT INTO {t} VALUES {rows};",
            )
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None,
        source_dir=d,
        target_dir=target,
        table_concurrency=2,
        engine_bytes=1,  # every data file becomes its own engine
    )
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    for t in ("t1", "t2"):
        out = spark.read.parquet(f"{target}/c/{t}")
        assert out.count() == 120
        assert out.agg(F.sum("a")).collect()[0][0] == sum(
            p * 100 + i for p in (1, 2, 3) for i in range(40)
        )


def test_winnow_containment_catches_embedded_passage(spark, monkeypatch):
    """A short doc embedded verbatim in a much longer one must surface
    via containment (~1.0) even though set Jaccard is diluted below the
    0.5 threshold — the case the asymmetric score exists for."""
    import tidb_lightning_spark.plans.queries as QQ

    short = (
        "winnowing guarantees every shared run of eleven characters "
        "leaves one common fingerprint in both documents"
    )
    filler = " ".join(
        f"unrelated padding token number {i} keeps the long document long"
        for i in range(40)
    )
    long_doc = filler + " " + short + " " + filler[::-1]
    docs = _doc_df(spark, [short, long_doc])
    orig = QQ.load
    monkeypatch.setattr(
        QQ,
        "load",
        lambda sp, sf, t: docs if t == "documents" else orig(sp, sf, t),
    )
    rows = QQ.near_dup_winnow_pairs(spark, SF_CORRECTNESS).collect()
    pair = [r for r in rows if r["a"] == 0 and r["b"] == 1]
    assert pair, "embedded passage pair not surfaced"
    assert pair[0]["containment"] >= 0.8
    assert pair[0]["sim"] < 0.5  # Jaccard alone would have missed it


def test_hourly_dense_grid_is_complete_and_consistent(spark, duck):
    """Gap-fill invariants: the output is the FULL dense grid (types x
    every hour between global min and max), zero rows exist for empty
    buckets, and summing the dense grid reproduces the sparse rollup
    totals exactly."""
    rows = Q.events_hourly_dense(spark, SF_CORRECTNESS).collect()
    types = {r["event_type"] for r in rows}
    hours = sorted({r["hour"] for r in rows})
    # dense: every (type, hour) cell exactly once
    assert len(rows) == len(types) * len(hours)
    # spine has no holes: consecutive hours are 3600 s apart
    deltas = {
        int((b - a).total_seconds()) for a, b in zip(hours, hours[1:])
    }
    assert deltas == {3600}
    # zero-filled gaps exist in this fixture (30 days x 5 types at
    # sf0.01 leaves some empty cells) and are genuine zeros
    zeros = [r for r in rows if r["n_events"] == 0]
    assert zeros and all(r["sum_value"] == 0.0 for r in zeros)
    n_total, = duck.execute("SELECT count(*) FROM events").fetchone()
    assert sum(r["n_events"] for r in rows) == n_total
    # LOCF: in a gap the carried value equals the last observed hour's
    # sum; on an observed hour it equals that hour's own sum
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for seq in by_type.values():
        seq.sort(key=lambda r: r["hour"])
        carried = 0.0
        for r in seq:
            if r["n_events"] > 0:
                carried = r["sum_value"]
            assert r["locf_sum_value"] == carried


def test_bloom_prefilter_no_false_negatives_on_crafted_dups(
    spark, monkeypatch
):
    """Bloom guarantee: every actual historical dup must be
    bloom_maybe (its positions were set by its historical twin); unique
    new docs overwhelmingly miss at n=3,m=32768."""
    import tidb_lightning_spark.plans.queries as QQ

    hist = [
        Row(doc_id=i, text=f"historical document number {i} body")
        for i in range(3)
    ]
    new = [
        # exact dup of hist 1 (whitespace-collapsed canon matches)
        Row(doc_id=250, text="historical  document   number 1 body"),
        Row(doc_id=251, text="a completely fresh document"),
        Row(doc_id=252, text="another fresh unseen document"),
    ]
    docs = spark.createDataFrame(hist + new)
    orig = QQ.load
    monkeypatch.setattr(
        QQ,
        "load",
        lambda sp, sf, t: docs if t == "documents" else orig(sp, sf, t),
    )
    rows = {
        r["doc_id"]: r
        for r in QQ.dedup_bloom_prefilter(spark, SF_CORRECTNESS).collect()
    }
    assert set(rows) == {250, 251, 252}
    assert rows[250]["is_actual_dup"] and rows[250]["bloom_maybe"]
    for i in (251, 252):
        assert not rows[i]["is_actual_dup"]
    # the implication direction that must NEVER break (false positives
    # are allowed, false negatives are not):
    for r in rows.values():
        assert (not r["is_actual_dup"]) or r["bloom_maybe"]


def test_rp_recall_bounds_on_fixture(spark):
    rows = Q.embedding_rp_recall(spark, SF_CORRECTNESS).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_overlap"] <= 10
        assert r["recall_at_10"] == r["n_overlap"] / 10.0


def test_rp_recall_high_on_clustered_corpus(spark, monkeypatch):
    """JL projection preserves NEIGHBOR STRUCTURE when there is any:
    on a corpus of 3 tight clusters the projected top-10 must recover
    the exact top-10 almost perfectly — the honest counterpart to the
    fixture's near-isotropic vectors, where recall is legitimately low."""
    import math

    import tidb_lightning_spark.plans.queries as QQ

    def unit(seed, dim=64):
        # deterministic pseudo-random unit vector
        import hashlib, struct

        v = []
        for d in range(dim):
            h = hashlib.md5(f"rp-test:{seed}:{d}".encode()).digest()
            (u,) = struct.unpack("<Q", h[:8])
            v.append(u / 2**63 - 1.0)
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    centers = [unit(f"c{i}") for i in range(3)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for m in range(12):
            noise = unit(f"n{ci}.{m}")
            vec = [x + 0.05 * e for x, e in zip(c, noise)]
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in vec]))
            vid += 1
    emb = spark.createDataFrame(rows)
    orig = QQ.load
    monkeypatch.setattr(
        QQ,
        "load",
        lambda sp, sf, t: emb if t == "embeddings" else orig(sp, sf, t),
    )
    out = QQ.embedding_rp_recall(spark, SF_CORRECTNESS).collect()
    # queries 0..4 live in cluster 0; their exact top-10 is their own
    # cluster, far from the others — the 16-d sketch must keep >= 8/10
    assert len(out) == 5
    for r in out:
        assert r["n_overlap"] >= 8, out


def test_novelty_extremes_on_crafted_corpus(spark, monkeypatch):
    """A new doc that reprints a historical doc scores ~0 novelty; a
    genuinely fresh doc scores 1.0; a half-recycled doc lands in
    between — the granularity whole-doc dup verdicts can't express."""
    import tidb_lightning_spark.plans.queries as QQ

    hist_text = (
        "the history of distributed databases begins with partitioned "
        "storage engines and consensus protocols for replication safety"
    )
    fresh_text = (
        "meanwhile gardening in volcanic soil requires entirely other "
        "skills like drainage terracing and patient seasonal observation"
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=hist_text),
            Row(doc_id=250, text=hist_text),          # reprint
            Row(doc_id=251, text=fresh_text),          # fresh
            Row(doc_id=252, text=hist_text + " " + fresh_text),  # half
        ]
    )
    orig = QQ.load
    monkeypatch.setattr(
        QQ,
        "load",
        lambda sp, sf, t: docs if t == "documents" else orig(sp, sf, t),
    )
    rows = {
        r["doc_id"]: r
        for r in QQ.doc_novelty_vs_reference(spark, SF_CORRECTNESS).collect()
    }
    assert set(rows) == {250, 251, 252}
    assert rows[250]["novelty"] == 0.0
    assert rows[251]["novelty"] == 1.0
    assert 0.2 < rows[252]["novelty"] < 0.8, rows[252]
