"""Round-11 fixes: upsert create-path validation parity and the
partition-COW hardlink fallback (driver ADVICE items 3 and 4)."""

from __future__ import annotations

import os
import shutil

import pytest


def _write_base(spark, wh, n=1000, n_ranges=5):
    from tidb_lightning_spark.sinks.files_sink import FilesSink

    sink = FilesSink(str(wh))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], "id long, s string"
    )
    sink.write_table(base, "db1", "t1", ["id"], n_ranges=n_ranges)
    return sink, wh / "db1" / "t1"


def test_upsert_create_path_validates_like_merge(spark, tmp_path):
    """The FIRST batch against a not-yet-existing table enforces the
    same duplicate-key and key-required contract as later merges —
    regression: the early write_table return skipped both checks and
    could seed a table violating the uniqueness invariant."""
    from tidb_lightning_spark.pipeline import IngestError
    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    sink = FilesSink(str(tmp_path / "wh"))
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b")], "id long, s string"
    )
    with pytest.raises(IngestError, match="duplicate keys"):
        upsert_table(sink, dup, "db1", "fresh", ["id"])
    with pytest.raises(IngestError, match="needs key columns"):
        upsert_table(sink, dup, "db1", "fresh", [])
    # neither attempt may have created the table
    assert not os.path.isdir(tmp_path / "wh" / "db1" / "fresh")
    # a valid first batch still creates it
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    upsert_table(sink, ok, "db1", "fresh", ["id"])
    assert spark.read.parquet(
        str(tmp_path / "wh" / "db1" / "fresh")
    ).count() == 2


def test_upsert_cow_hardlink_fallback_copies(spark, tmp_path, monkeypatch):
    """On filesystems without hardlink support (os.link raises OSError)
    the partition-COW path falls back to byte copies: the upsert still
    commits, clean files survive by content, and no ._staging_* is
    stranded."""
    from tidb_lightning_spark.sinks.files_sink import upsert_table

    sink, tdir = _write_base(spark, tmp_path / "wh")

    def no_link(*a, **k):
        raise OSError(38, "Function not implemented")

    monkeypatch.setattr(os, "link", no_link)
    upd = spark.createDataFrame(
        [(42, "UPDATED"), (5000, "new")], "id long, s string"
    )
    upsert_table(sink, upd, "db1", "t1", ["id"])
    got = {r["id"]: r["s"] for r in spark.read.parquet(str(tdir)).collect()}
    assert len(got) == 1001
    assert got[42] == "UPDATED" and got[5000] == "new" and got[41] == "v41"
    # the copy fallback still prunes: linked- files exist (as copies)
    assert any(f.startswith("linked-") for f in os.listdir(tdir))
    parent = tdir.parent
    assert not [d for d in os.listdir(parent) if "._staging_" in d]


def test_upsert_cow_link_and_copy_fail_full_cow(spark, tmp_path, monkeypatch):
    """If the byte-copy fallback ALSO fails, the staged partial is
    removed and the upsert completes through the full-COW rewrite —
    never a stranded ._staging_* or a half-merged table."""
    from tidb_lightning_spark.sinks.files_sink import upsert_table

    sink, tdir = _write_base(spark, tmp_path / "wh")

    def no_os(*a, **k):
        raise OSError(38, "Function not implemented")

    monkeypatch.setattr(os, "link", no_os)
    monkeypatch.setattr(shutil, "copy2", no_os)
    upd = spark.createDataFrame(
        [(42, "UPDATED"), (5000, "new")], "id long, s string"
    )
    upsert_table(sink, upd, "db1", "t1", ["id"])
    got = {r["id"]: r["s"] for r in spark.read.parquet(str(tdir)).collect()}
    assert len(got) == 1001
    assert got[42] == "UPDATED" and got[5000] == "new"
    # full COW: nothing linked through, and nothing stranded
    assert not any(f.startswith("linked-") for f in os.listdir(tdir))
    parent = tdir.parent
    assert not [d for d in os.listdir(parent) if "._staging_" in d]


def test_config_rejects_unknown_keys(tmp_path):
    """Reference parity (config.go:448-476 metaData.Undecoded();
    tests/unused_config_keys): startup fails naming every TOML key no
    consumer recognizes — a typo'd knob must never silently default."""
    from tidb_lightning_spark.config import Config

    p = tmp_path / "bad.toml"
    p.write_text(
        "[mydumper]\n"
        'data-source-dir = "/x"\n'
        "strict_format = true\n"          # typo: underscore
        "[tikv-importer]\n"
        'backedn = "local"\n'             # typo'd key
    )
    with pytest.raises(ValueError) as ei:
        Config.from_toml(str(p))
    msg = str(ei.value)
    assert "unknown configuration options" in msg
    assert "mydumper.strict_format" in msg
    assert "tikv-importer.backedn" in msg

    # nested tables and arrays of tables are checked too
    p2 = tmp_path / "bad2.toml"
    p2.write_text(
        "[mydumper]\n"
        'data-source-dir = "/x"\n'
        "[mydumper.csv]\n"
        'seperator = ","\n'               # typo inside [mydumper.csv]
        "[[routes]]\n"
        'schema-pattern = "a"\n'
        'target-scheme = "b"\n'           # typo inside [[routes]]
    )
    with pytest.raises(ValueError) as ei:
        Config.from_toml(str(p2))
    msg = str(ei.value)
    assert "mydumper.csv.seperator" in msg
    assert "routes.target-scheme" in msg


def test_config_accepts_full_reference_surface(tmp_path):
    """A config using the reference's whole TOML surface (including
    Spark-obsolete knobs we accept-but-ignore) still parses."""
    from tidb_lightning_spark.config import Config

    p = tmp_path / "ref.toml"
    p.write_text(
        "[lightning]\n"
        "table-concurrency = 6\nindex-concurrency = 2\n"
        "region-concurrency = 16\nio-concurrency = 5\n"
        "check-requirements = true\n"
        "[tidb]\n"
        'host = "127.0.0.1"\nport = 4000\nuser = "root"\n'
        'sql-mode = "STRICT_TRANS_TABLES"\n'
        "[tidb.security]\n"
        'ca-path = "/certs/ca.pem"\n'
        "[checkpoint]\n"
        'enable = true\ndriver = "file"\n'
        "[mydumper]\n"
        'data-source-dir = "/x"\nstrict-format = true\n'
        'character-set = "utf8mb4"\nbatch-size = "100GiB"\n'
        "[mydumper.csv]\n"
        'separator = ","\nheader = true\n'
        "[[mydumper.files]]\n"
        'pattern = ".*\\\\.csv"\nschema = "db"\ntable = "t"\ntype = "csv"\n'
        "[tikv-importer]\n"
        'backend = "local"\nsorted-kv-dir = "/tmp/skv"\n'
        'disk-quota = "10GiB"\n'
        "[post-restore]\n"
        'checksum = "required"\nanalyze = "optional"\n'
        "[cron]\n"
        'switch-mode = "5m"\nlog-progress = "5m"\n'
        "[security]\n"
        'cert-path = "/certs/l.pem"\n'
    )
    cfg = Config.from_toml(str(p))
    assert cfg.source_dir == "/x"
    assert cfg.csv.strict_format is True


def test_ln_ladder_exhaustive_20bit(spark):
    """EXHAUSTIVE cross-engine proof for the fixed-point ln ladders:
    floor(ln(k)*1e6) agrees between the JVM (Spark/Math.log) and DuckDB
    (glibc ln) for EVERY k in [1, 2^20] — the full input domain of
    weighted_sample_ares' quantized u, and a superset of every count
    the DSIR/BM25/CCNet ladders see at driver-gate scale (total grams
    at sf0.01 << 2^20). Context: the r11 boundary probe found 2 of 18k
    adversarially near-grid integers ABOVE 2^20 where the two libms
    disagree across a floor boundary, so this agreement is a property
    to pin per environment, not an assumption."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    n = 1 << 20
    pdf = (
        spark.range(1, n + 1)
        .select(
            F.floor(
                F.log(F.col("id").cast("double")) * F.lit(1000000.0)
            ).cast("long").alias("f")
        )
        .toPandas()
    )
    jvm = pdf["f"].to_numpy()
    duck = duckdb.connect().execute(
        "SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT)"
        f" AS f FROM range(1, {n + 1}) t(r) ORDER BY r"
    ).fetchnumpy()["f"]
    diffs = np.nonzero(jvm != duck)[0]
    assert diffs.size == 0, (
        f"{diffs.size} cross-libm floor flips in [1, 2^20], first k="
        f"{diffs[:5] + 1}"
    )


def test_bpe_sampled_trainer_contract(spark, tmp_path):
    """Sample-then-train BPE (the 100 TB steering contract): on a
    margin-separated corpus — pair counts strictly ordered with gaps a
    ~50% doc sample cannot erase — the sampled trainer reproduces the
    full trainer's merge table EXACTLY. On the repo's synthetic fixture
    (near-uniform pair counts, the adversarial case) the merge SET
    still matches, with order swaps only at near-ties."""
    from tidb_lightning_spark.plans import queries as Q

    # every doc carries the same strictly-separated pair hierarchy:
    # 'zq' (x8 per doc) > 'xw' (x4) > 'vk' (x2) ... any doc subset
    # preserves the ranking, so sampled == full must hold exactly.
    text = " ".join(["zq"] * 8 + ["xw"] * 4 + ["vk"] * 2 + ["jb"])
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, text + f" unique{i}", "en", "src", 1) for i in range(40)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    def table(df):
        return [
            (r["step"], r["left"], r["right"], r["merged"])
            for r in df.collect()
        ]

    # the full-corpus reference: the same trainer over every doc
    full = table(Q._bpe_train_loop(Q.load(spark, d, "documents")))
    samp = table(Q.bpe_train_merges_sampled(spark, d))
    assert full == samp, (full, samp)
    # the separated pairs dominate the merge order
    assert [m[3] for m in full][:3] == ["zq", "xw", "vk"]

    # fixture corpus: set-equality (order may swap at count near-ties)
    sf = "/root/testdata/sf0.001"
    full_fx = [
        (r["left"], r["right"])
        for r in Q._bpe_train_loop(Q.load(spark, sf, "documents")).collect()
    ]
    samp_fx = [
        (r["left"], r["right"])
        for r in Q.bpe_train_merges_sampled(spark, sf).collect()
    ]
    assert set(full_fx) == set(samp_fx), (full_fx, samp_fx)


def test_nano_probe_warns_on_remote_path():
    """The nano-timestamp probe can't open scheme'd paths: it must WARN
    that normalization is skipped, never silently return []."""
    import warnings

    from tidb_lightning_spark.sources.parquet_source import (
        _probe_nano_ts_columns,
    )

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = _probe_nano_ts_columns("viewfs://x/dump/t.parquet")
    assert out == []
    assert any("nano-timestamp probe skipped" in str(x.message) for x in w)


def test_langid_trigram_discriminates_planted_languages(spark, tmp_path):
    """Trainable trigram language ID: on genuinely different languages
    the learned profiles classify every doc correctly (perfect
    confusion-matrix diagonal), including held-out-style docs that
    share vocabulary with their language's training mates."""
    from tidb_lightning_spark.plans import queries as Q

    en = "the quick brown fox jumps over the lazy dog and runs away"
    de = "der schnelle braune fuchs springt über den faulen hund weg"
    fr = "le renard brun rapide saute par dessus le chien paresseux"
    rows = []
    i = 0
    for lang, base in (("en", en), ("de", de), ("fr", fr)):
        for k in range(4):
            rows.append((i, (base + " ") * 3 + base.split()[k], lang))
            i += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, t, lang, "src", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        (r["lang"], r["predicted"]): r["n_docs"]
        for r in Q.langid_trigram_vote(spark, d).collect()
    }
    assert out == {("en", "en"): 4, ("de", "de"): 4, ("fr", "fr"): 4}, out


def test_containment_catches_excerpt_jaccard_misses(spark, tmp_path):
    """Directional containment: a short excerpt embedded in a much
    longer article passes the containment join (C = 1) in exactly one
    direction while the SAME pair fails the Jaccard join (J small as
    the container grows) — the asymmetric-duplicate class this
    operator exists for."""
    from tidb_lightning_spark.plans import queries as Q

    excerpt = " ".join(f"quote{i}" for i in range(12))
    filler = " ".join(f"body{i}" for i in range(60))
    rows = [
        (1, excerpt, "en"),
        (2, filler + " " + excerpt + " " + filler, "en"),
        (3, " ".join(f"other{i}" for i in range(30)), "en"),
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, t, lang, "src", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    cont = {
        (r["contained"], r["container"]): r["cont_scaled"]
        for r in Q.containment_join_pairs(spark, d).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == Q.CONT_SCALE  # fully inside
    assert (2, 1) not in cont  # direction matters
    assert not any(3 in p for p in cont)
    jacc = {
        (r["a"], r["b"])
        for r in Q.setjoin_prefix_jaccard(spark, d).collect()
    }
    assert (1, 2) not in jacc and (2, 1) not in jacc


def test_hard_negatives_respect_band(spark):
    """Hard-negative mining: every mined pair's cosine sits inside
    [floor, ceiling]; pairs the plain ANN (the same IVF call without
    the band) ranks above the ceiling (likely positives/duplicates) are
    excluded."""
    from tidb_lightning_spark.functions.similarity import knn_ivf
    from tidb_lightning_spark.plans import queries as Q

    sf = "/root/testdata/sf0.01"
    lo, hi = Q.HN_BAND
    hard = Q.hard_negative_mining(spark, sf).collect()
    assert hard, "band too narrow: no negatives mined on the fixture"
    assert all(lo <= r["cosine"] <= hi for r in hard)
    knn = knn_ivf(
        Q.load(spark, sf, "embeddings"), "vec_id", "embedding",
        lambda c: c < 10, k=Q.HN_K, n_lists=8, n_probe=3,
    ).collect()
    above = {
        (r["query_id"], r["neighbor_id"])
        for r in knn if r["cosine"] > hi
    }
    assert above, "fixture sanity: some true-positive-like pairs exist"
    mined = {(r["query_id"], r["neighbor_id"]) for r in hard}
    assert not (mined & above)


def test_config_accepts_reference_sample_config():
    """The reference's SHIPPED sample config (tidb-lightning.toml) must
    parse with zero unknown keys — the acceptance bar for the
    unknown-key whitelist (notably the [lightning] log block's real
    toml tags: level/file/max-size/..., log.go:38-46)."""
    import os
    import tomllib

    from tidb_lightning_spark.config import _unknown_keys

    ref = "/root/reference/tidb-lightning.toml"
    if not os.path.exists(ref):
        import pytest

        pytest.skip("reference sample config not present")
    with open(ref, "rb") as f:
        raw = tomllib.load(f)
    assert _unknown_keys(raw) == []


def test_file_uri_to_path_percent_decodes():
    """The shared file:-URI normalizer percent-decodes (Hadoop emits
    %XX-quoted URIs) while leaving plain local paths — including ones
    containing a literal '%' — byte-identical."""
    from tidb_lightning_spark.paths import file_uri_to_path as f

    assert f("file:/tmp/my%20dir/t.parquet") == "/tmp/my dir/t.parquet"
    assert f("file:///a/b.csv") == "/a/b.csv"
    assert f("/data/a%20b.csv") == "/data/a%20b.csv"  # not a URI
    assert f("viewfs://x/dump/a.csv") == "viewfs://x/dump/a.csv"


def test_kmv_estimates_near_truth_and_union_composes(spark):
    """KMV sanity beyond parity: per-type estimates sit within the
    sketch's theoretical error band (~1/sqrt(k) relative) of the true
    distinct counts on the fixture, and the union estimate is bounded
    below by each side's (monotonicity a composable sketch must
    keep)."""
    from pyspark.sql import functions as F

    from tidb_lightning_spark.plans import queries as Q

    sf = "/root/testdata/sf0.01"
    ev = Q.load(spark, sf, "events")
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = Q.kmv_distinct_setops(spark, sf).collect()
    assert rows
    tol = 3.5 / (Q.KMV_K ** 0.5)  # ~3.5 sigma of the KMV error
    for r in rows:
        for side, est in (("type_a", r["est_a"]), ("type_b", r["est_b"])):
            t = truth[r[side]]
            assert abs(est - t) <= max(2, tol * t), (r[side], est, t)
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) * (1 - tol)
        assert 0 <= r["est_inter"] <= min(r["est_a"], r["est_b"]) * (1 + tol)


def test_pmi_ranks_planted_collocation_above_frequent_pair(spark, tmp_path):
    """PMI's reason to exist: a rare-but-exclusive pair ("kuala lumpur",
    always together) outranks a frequent-but-promiscuous pair ("of the",
    both words everywhere) even though the latter has 4x the count."""
    from tidb_lightning_spark.plans import queries as Q

    exclusive = "kuala lumpur " * Q.PMI_MIN_COUNT
    promiscuous = (
        "of the " * (4 * Q.PMI_MIN_COUNT)
        + "of cats of dogs of rocks the cat the dog the rock "
        + "one of two the end of it the more of "
    )
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, exclusive, "en", "src", 1), (2, promiscuous, "en", "src", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {(r["w1"], r["w2"]): r for r in Q.pmi_top_pairs(spark, d).collect()}
    kl = out[("kuala", "lumpur")]
    ot = out.get(("of", "the"))
    assert ot is None or kl["lift_scaled"] > ot["lift_scaled"]
    assert kl["rank"] < (ot["rank"] if ot else 99)


def test_cli_explain(capsys):
    """`cli explain` lists registry names and prints a formatted
    physical plan for a named query; unknown names get a close-match
    hint and exit 1."""
    from tidb_lightning_spark import cli
    from tidb_lightning_spark.plans import queries as Q

    rc = cli.main(["explain"])
    assert rc == 0
    names = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in names and names == sorted(Q.registry())

    rc = cli.main(["explain", "q1_pricing_summry"])  # typo
    assert rc == 1
    assert "did you mean" in capsys.readouterr().err

    rc = cli.main([
        "explain", "pii_scrub_stats", "--sf-dir", "/root/testdata/sf0.001",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "== Physical Plan ==" in out and "Scan parquet" in out


def test_review_fix_semantics(spark, tmp_path):
    """Pins for the r11 self-review fixes: FLOAT saturates at ±FLT_MAX
    (never Infinity), CONVERT tolerates space before '(', a leading ()
    row doesn't blind peek_arity, and BWList '~' rules are UNANCHORED
    (tidb-tools MatchString semantics)."""
    from tidb_lightning_spark.operators.cast import cast_sql
    from tidb_lightning_spark.schema.ddl import parse_create_table
    from tidb_lightning_spark.sources import sqldump_source as S
    from tidb_lightning_spark.sources.table_filter import BWListFilter

    # FLOAT saturation
    info = parse_create_table("CREATE TABLE t (f FLOAT, d DOUBLE)")
    df = spark.createDataFrame([("1e39", "1e39"), ("-1e39", "3.5e308")],
                               "f string, d string")
    out = df.selectExpr(
        f"{cast_sql('f', info.columns[0])} AS f",
        f"{cast_sql('d', info.columns[1])} AS d",
    ).collect()
    import math
    assert all(math.isfinite(r["f"]) and math.isfinite(r["d"]) for r in out)
    assert out[0]["f"] == pytest.approx(3.4028235e38, rel=1e-6)
    assert out[1]["f"] == pytest.approx(-3.4028235e38, rel=1e-6)

    # CONVERT with whitespace before '('
    stmts = list(S.parse_insert_statements(
        "INSERT INTO t VALUES (1, CONVERT ('x' USING utf8mb4));"
    ))
    assert stmts[0].rows == [["1", "x"]]

    # peek_arity skips a leading all-defaults tuple
    p = tmp_path / "d.sql"
    p.write_text("INSERT INTO t VALUES (), (1, 2);\n")
    assert S.peek_arity(str(p)) == 2

    # BWList '~' rules are substring searches, exact names anchored
    f = BWListFilter({"ignore-dbs": ["~log$"]})
    assert not f.match_schema("binlog")
    assert f.match_schema("logs")  # $ anchors the END only
    f2 = BWListFilter({"do-dbs": ["prod"]})
    assert f2.match_schema("prod") and not f2.match_schema("prod2")


def test_cli_sql_ambiguous_alias_refused(spark, tmp_path, capsys):
    """Two tables sanitizing to the same alias (a-b vs a_b): neither
    owns the alias (a silently-shadowing alias would answer from the
    wrong table); the backticked canonical views stay usable."""
    from tidb_lightning_spark import cli

    wh = tmp_path / "wh"
    os.makedirs(wh / "db1")
    spark.createDataFrame([(1,)], "n long").write.parquet(
        str(wh / "db1" / "a-b")
    )
    spark.createDataFrame([(2,)], "n long").write.parquet(
        str(wh / "db1" / "a_b")
    )
    rc = cli.main([
        "sql", "--target", str(wh), "--format", "csv",
        'SELECT (SELECT n FROM `db1.a-b`) AS x, '
        '(SELECT n FROM `db1.a_b`) AS y',
    ])
    assert rc == 0
    cap = capsys.readouterr()
    assert cap.out.strip().splitlines()[-1] == "1,2"
    assert "ambiguous" in cap.err
