"""SQL-dump parser unit tests (model: reference parser_test.go cases,
FIXTURES.md F11 statement shapes — fixtures are our own)."""

import pytest

from tidb_lightning_spark.sources.sqldump_source import (
    SQLDumpError,
    parse_insert_statements,
)


def rows(text):
    out = []
    for stmt in parse_insert_statements(text):
        out.extend(stmt.rows)
    return out


def test_multi_row_values():
    stmts = list(
        parse_insert_statements("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, NULL);")
    )
    assert len(stmts) == 1
    assert stmts[0].table == "t"
    assert stmts[0].columns is None
    assert stmts[0].rows == [["1", "a"], ["2", "b"], ["3", None]]


def test_column_list_and_qualified_name():
    stmts = list(
        parse_insert_statements(
            "INSERT INTO `db`.`tbl` (`a`, b) VALUES (1, 2);"
            "INSERT INTO db2.tbl2 VALUES (3, 4);"
        )
    )
    assert stmts[0].table == "tbl"
    assert stmts[0].columns == ["a", "b"]
    assert stmts[1].table == "tbl2"


def test_literals():
    (r,) = rows(
        "INSERT INTO t VALUES (TRUE, FALSE, NULL, -42, 18446744073709551615, "
        "1.5, 5e222, X'414243', x'ff', b'101', 0x4142);"
    )
    assert r == ["1", "0", None, "-42", "18446744073709551615",
                 "1.5", "5e222", "ABC", "\xff", "5", "AB"]


def test_string_escapes():
    (r,) = rows(r"INSERT INTO t VALUES ('a\'b', 'c''d', 'e\\f', 'g\nh');")
    assert r == ["a'b", "c'd", "e\\f", "g\nh"]


def test_multiple_statements_and_noise():
    rs = rows(
        """
        /*!40101 SET NAMES binary*/;
        -- comment line
        INSERT INTO t VALUES (1);
        # hash comment
        REPLACE INTO t VALUES (2);
        INSERT INTO t VALUE (3);
        """
    )
    assert rs == [["1"], ["2"], ["3"]]


def test_empty_tuple_and_errors():
    stmts = list(parse_insert_statements("INSERT INTO t () VALUES (), ();"))
    assert stmts[0].columns == []
    assert stmts[0].rows == [[], []]
    with pytest.raises(SQLDumpError):
        rows("INSERT INTO t SET a = 1;")
    with pytest.raises(SQLDumpError):
        rows("INSERT INTO t VALUES (1")


def test_peek_columns_statement_longer_than_window(tmp_path):
    """ADVICE r1: the first INSERT can exceed the peek read window
    (mydumper statement-size is configurable); peek must parse only the
    header, growing the window as needed, not the whole statement."""
    from tidb_lightning_spark.sources.sqldump_source import peek_columns

    p = tmp_path / "big.sql"
    rows = ",\n".join(f"({i}, '{'x' * 64}')" for i in range(4000))
    p.write_text(
        "/* header comment */\n"
        "INSERT INTO `t` (`id`, `payload`) VALUES\n" + rows + ";\n"
    )
    assert p.stat().st_size > (1 << 18)
    assert peek_columns(str(p)) == ["id", "payload"]


def test_peek_columns_positional_and_noise(tmp_path):
    from tidb_lightning_spark.sources.sqldump_source import peek_columns

    p = tmp_path / "pos.sql"
    p.write_text("SET NAMES utf8;\nINSERT INTO t VALUES (1), (2);\n")
    assert peek_columns(str(p)) is None
    empty = tmp_path / "empty.sql"
    empty.write_text("-- nothing here\n")
    assert peek_columns(str(empty)) is None


def _make_dump(path, n_rows, with_noise=True):
    with open(path, "w") as f:
        if with_noise:
            f.write("/*!40101 SET NAMES utf8 */;\nSET sql_mode='';\n")
        batch = []
        for i in range(n_rows):
            batch.append(f"({i}, 'val {i} with ;\\n semi', {i * 2})")
            if len(batch) == 100:
                f.write("INSERT INTO `t` (`a`, `b`, `c`) VALUES\n"
                        + ",\n".join(batch) + ";\n")
                batch = []
        if batch:
            f.write("INSERT INTO `t` (`a`, `b`, `c`) VALUES\n"
                    + ",\n".join(batch) + ";\n")


def test_split_sql_file_statement_aligned(tmp_path):
    from tidb_lightning_spark.sources.sqldump_source import split_sql_file

    p = str(tmp_path / "d.sql")
    _make_dump(p, 2000)
    import os as _os

    size = _os.path.getsize(p)
    ranges = split_sql_file(p, chunk_bytes=10_000)
    assert len(ranges) > 3
    # full, gapless coverage
    assert ranges[0][0] == 0 and ranges[-1][1] == size
    for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
        assert e1 == s2
    # every non-zero boundary starts a statement
    with open(p, "rb") as f:
        for s, _ in ranges[1:]:
            f.seek(s)
            assert f.readline().lstrip()[:7].upper() == b"INSERT "


def test_chunked_read_matches_whole_file(spark, tmp_path):
    """Splitting a dump must change neither the parsed rows nor row-id
    uniqueness/order (reference checkpoint_chunks equivalence)."""
    from tidb_lightning_spark.sources.sqldump_source import read_sql_files

    p = str(tmp_path / "big.sql")
    _make_dump(p, 3000)

    whole, _ = read_sql_files(spark, [p], 3, chunk_bytes=1 << 30)
    chunked, _ = read_sql_files(spark, [p], 3, chunk_bytes=20_000)
    assert chunked.rdd.getNumPartitions() > 1
    w = sorted((r["_c0"], r["_c1"], r["_c2"]) for r in whole.collect())
    c = sorted((r["_c0"], r["_c1"], r["_c2"]) for r in chunked.collect())
    assert w == c and len(w) == 3000
    # _row_seq: unique, and ordered consistently with the data order
    seqs = {r["_c0"]: r["_row_seq"] for r in chunked.collect()}
    assert len(set(seqs.values())) == 3000
    ordered = [seqs[str(i)] for i in range(3000)]
    assert ordered == sorted(ordered)


def test_restore_split_dump_same_checksum(spark, tmp_path, monkeypatch):
    """e2e: a dump imported in >1 chunk produces the identical table
    (checksum=required passes, auto-inc ids unique) vs whole-file mode."""
    import tidb_lightning_spark.sources.sqldump_source as sq
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")
    import os as _os

    _os.makedirs(d, exist_ok=True)
    with open(f"{d}/s-schema-create.sql", "w") as f:
        f.write("CREATE DATABASE s;")
    with open(f"{d}/s.t-schema.sql", "w") as f:
        f.write("CREATE TABLE t (a INT, b VARCHAR(40), c INT, PRIMARY KEY (a));")
    _make_dump(f"{d}/s.t.sql", 2500, with_noise=False)

    def run(target):
        cfg = Config.from_toml(
            None, source_dir=d, target_dir=target,
            checksum="required", checkpoint_enable=False,
        )
        rep = Restorer(spark, cfg).run()
        assert rep.ok, [t.error for t in rep.tables]
        return rep.tables[0].checksum

    ck_whole = run(str(tmp_path / "wh_whole"))
    monkeypatch.setattr(sq, "SQL_CHUNK_BYTES", 15_000)
    ck_split = run(str(tmp_path / "wh_split"))
    assert ck_whole == ck_split


def test_restore_sqldump_exact_row_ids(spark, tmp_path, monkeypatch):
    """Row ids of a SQL-dump restore are pinned VALUE BY VALUE, not just
    for uniqueness: each file reserves size // (n_cols + 2) + 1 ids in
    file order, each chunk starts at its byte offset // (n_cols + 2)
    inside that range, and a checkpoint written by an earlier build
    resumes only while these values stay put. The dump covers a file
    split into several chunks, a gz file (reserved from its
    DECOMPRESSED size), a single-chunk file and a second file group
    whose INSERT column list differs (its own divisor)."""
    import gzip
    import os as _os

    import tidb_lightning_spark.sources.sqldump_source as sq
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")
    _os.makedirs(d)
    with open(f"{d}/s-schema-create.sql", "w") as f:
        f.write("CREATE DATABASE s;")
    with open(f"{d}/s.t-schema.sql", "w") as f:
        f.write("CREATE TABLE t (a INT, b VARCHAR(20), c INT);")

    def stmts(lo, hi, cols=""):
        return "".join(
            f"INSERT INTO `t`{cols} VALUES ({a}, 'r{a}', {a * 3}),"
            f" ({a + 1}, 'r{a + 1}', {a * 3 + 1});\n"
            for a in range(lo, hi, 2)
        )

    with open(f"{d}/s.t.000.sql", "w") as f:
        f.write(stmts(0, 24))
    with gzip.open(f"{d}/s.t.001.sql.gz", "wt") as f:
        f.write(stmts(100, 106))
    with open(f"{d}/s.t.002.sql", "w") as f:
        f.write(stmts(200, 202))
    with open(f"{d}/s.t.003.sql", "w") as f:
        f.write("".join(
            f"INSERT INTO `t` (`a`, `b`) VALUES ({a}, 'q{a}');\n"
            for a in range(300, 304)
        ))
    monkeypatch.setattr(sq, "SQL_CHUNK_BYTES", 200)
    assert len(sq.split_sql_file(f"{d}/s.t.000.sql", 200)) >= 3
    assert len(sq.split_sql_file(f"{d}/s.t.002.sql", 200)) == 1

    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=target, checkpoint_enable=False
    )
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    got = [
        (r["a"], r["_tidb_rowid"])
        for r in spark.read.parquet(f"{target}/s/t")
        .select("a", "_tidb_rowid").orderBy("a").collect()
    ]
    assert [a for a, _ in got] == (
        list(range(24)) + list(range(100, 106)) + list(range(200, 202))
        + list(range(300, 304))
    )
    assert [rid for _, rid in got] == [
        1, 2, 3, 4, 5, 6, 7, 8,  # s.t.000.sql, chunk 1
        42, 43, 44, 45, 46, 47, 48, 49,  # chunk 2
        87, 88, 89, 90, 91, 92, 93, 94,  # chunk 3
        134, 135, 136, 137, 138, 139,  # s.t.001.sql.gz
        172, 173,  # s.t.002.sql
        185, 186, 187, 188,  # s.t.003.sql, (`a`, `b`) group
    ]


def test_restore_sqldump_blob_bytes(spark, tmp_path):
    """A UTF-8 dump into a table with a BLOB column keeps each string
    literal's raw bytes in the BLOB, as the CSV path does
    (csv_source.byte_preserving): non-UTF-8 bytes and UTF-8 'é' land as
    written, while text columns still read as UTF-8, including a hex
    literal's bytes. One file takes the vectorized parse, the other
    (hex literals) the scanner."""
    import os as _os

    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")
    _os.makedirs(d)
    with open(f"{d}/s-schema-create.sql", "w") as f:
        f.write("CREATE DATABASE s;")
    with open(f"{d}/s.t-schema.sql", "w") as f:
        f.write("CREATE TABLE t (a INT, s VARCHAR(20), b BLOB);")
    with open(f"{d}/s.t.000.sql", "wb") as f:
        f.write(
            b"INSERT INTO t VALUES (1,'x','\xff\xfeok'),"
            b"(2,'caf\xc3\xa9','caf\xc3\xa9'),(3,'it\\'s','a\\0b');\n"
        )
    with open(f"{d}/s.t.001.sql", "wb") as f:
        f.write(
            b"INSERT INTO t VALUES (4,X'636166c3a9',X'ff00'),"
            b"(5,'\xc3\xa9',0x636166c3a9);\n"
        )
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=target, checkpoint_enable=False
    )
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    got = [
        tuple(r)
        for r in spark.read.parquet(f"{target}/s/t")
        .select("a", "s", "b").orderBy("a").collect()
    ]
    assert got == [
        (1, "x", bytearray(b"\xff\xfeok")),
        (2, "café", bytearray(b"caf\xc3\xa9")),
        (3, "it's", bytearray(b"a\x00b")),
        (4, "café", bytearray(b"\xff\x00")),
        (5, "é", bytearray(b"caf\xc3\xa9")),
    ]
