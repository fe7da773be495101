"""Round-12 fixes and reference unit-test mining.

ADVICE items: BWList replaces the -f filter (never intersects it),
BWList typo'd keys fail loudly, the spool cache's per-writer tmp names,
64-member SET masks with bit 63 set, bare DATETIME = fsp 0.

Reference *_test.go batteries run verbatim against our components:
the exact MySQL-dialect CSV lexer (csv_parser_test.go — RFC4180,
TestMySQL, CRLF/blank-line skipping, syntax errors, flavors), the
SQL-dump scanner (parser_test.go — TestVariousSyntax, the fuzz
corpus as a never-raw-exception contract), schema reads
(reader_test.go), and loader layout validation + TestRouter structure
(loader_test.go). Plus the collation warning contract (SURVEY §1.3)."""

from __future__ import annotations

import os
import threading

import pytest

from tidb_lightning_spark.operators.cast import cast_sql
from tidb_lightning_spark.schema.ddl import parse_create_table


def _info(ddl: str, name: str):
    return parse_create_table(ddl).column(name)


def _cast(spark, info, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [
        r["r"]
        for r in df.selectExpr(f"{cast_sql('v', info)} AS r").collect()
    ]


# ---------------------------------------------------------------------------
# ADVICE 1: [black-white-list] REPLACES mydumper.filter
# ---------------------------------------------------------------------------


def test_bwlist_and_explicit_filter_is_startup_error(tmp_path):
    """config.go:655-660: a non-default mydumper.filter alongside
    [black-white-list] must fail at startup, never silently import the
    intersection."""
    from tidb_lightning_spark.config import Config

    p = tmp_path / "both.toml"
    p.write_text(
        "[mydumper]\n"
        'data-source-dir = "/x"\n'
        'filter = ["mydb.*"]\n'
        "[black-white-list]\n"
        'do-dbs = ["mydb"]\n'
    )
    with pytest.raises(ValueError, match="cannot be simultaneously defined"):
        Config.from_toml(str(p))


def test_bwlist_with_default_filter_allowed(tmp_path):
    """An explicit filter EQUAL to the default passes (the reference
    compares against DefaultFilter, not against 'was it set')."""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.sources.table_filter import DEFAULT_FILTER

    p = tmp_path / "ok.toml"
    rules = ", ".join(f'"{r}"' for r in DEFAULT_FILTER)
    p.write_text(
        "[mydumper]\n"
        'data-source-dir = "/x"\n'
        f"filter = [{rules}]\n"
        "[black-white-list]\n"
        'do-dbs = ["mydb"]\n'
    )
    cfg = Config.from_toml(str(p))
    assert cfg.bw_list == {"do-dbs": ["mydb"]}


def test_bwlist_replaces_filter_not_intersects():
    """A BWList whitelisting a table the -f defaults exclude must let it
    through — loader.go:119-124 uses the BWList INSTEAD of the filter,
    so `do-dbs = ["mysql"]` really does import from the mysql schema."""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    cfg = Config(source_dir="/x", bw_list={"do-dbs": ["mysql"]})
    f = Restorer._build_table_filter(cfg)
    assert f.match_table("mysql", "user")
    assert not f.match_table("other", "t")


def test_bwlist_typoed_keys_fail_loudly(tmp_path):
    """ADVICE 3: 'do-db' for 'do-dbs' (and 'table-name' for 'tbl-name')
    inside [black-white-list] must hit the unknown-key gate — a dropped
    rule silently imports everything it meant to exclude."""
    from tidb_lightning_spark.config import Config

    p = tmp_path / "typo.toml"
    p.write_text(
        "[mydumper]\n"
        'data-source-dir = "/x"\n'
        "[black-white-list]\n"
        'do-db = ["mydb"]\n'
        "[[black-white-list.ignore-tables]]\n"
        'db-name = "d"\n'
        'table-name = "t"\n'
    )
    with pytest.raises(ValueError) as ei:
        Config.from_toml(str(p))
    msg = str(ei.value)
    assert "black-white-list.do-db" in msg
    assert "black-white-list.ignore-tables.table-name" in msg


# ---------------------------------------------------------------------------
# ADVICE 2: spool cache — unique per-writer tmp names
# ---------------------------------------------------------------------------


def test_cached_driver_copy_concurrent_writers_publish_complete_copies(
    tmp_path, monkeypatch
):
    """Two writers racing the same cache key must each publish a
    complete copy (last replace wins) — the shared `.part` name let
    them interleave into one corrupt published file."""
    from tidb_lightning_spark.sources.csv_source import _cached_driver_copy

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    barrier = threading.Barrier(2)
    payloads = [b"A" * 65536, b"B" * 65536]
    results = []

    def writer(i):
        def write_fn(tmp):
            barrier.wait()
            # chunked write maximizes interleave odds on a shared path
            with open(tmp, "wb") as f:
                for _ in range(64):
                    f.write(payloads[i][:1024])
                    f.flush()

        results.append(
            _cached_driver_copy("testrace", "samekey", "out.bin", write_fn)
        )

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert results[0] == results[1]
    data = open(results[0], "rb").read()
    assert data in (payloads[0], payloads[1])  # complete, never interleaved
    # no stranded .part files
    d = os.path.dirname(results[0])
    assert not [f for f in os.listdir(d) if f.endswith(".part")]


def test_cached_driver_copy_failed_writer_cleans_tmp(tmp_path, monkeypatch):
    from tidb_lightning_spark.sources.csv_source import _cached_driver_copy

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))

    def boom(tmp):
        with open(tmp, "wb") as f:
            f.write(b"partial")
        raise RuntimeError("download died")

    with pytest.raises(RuntimeError):
        _cached_driver_copy("testfail", "k", "out.bin", boom)
    cache = tmp_path / "testfail"
    assert not any(f.endswith(".part") for f in os.listdir(cache))


# ---------------------------------------------------------------------------
# ADVICE 4: SET masks with bit 63 set (unsigned 64-bit decimals)
# ---------------------------------------------------------------------------


def test_set_mask_bit63_member_decodes(spark):
    """A 64-member SET whose value has bit 63 set arrives as an UNSIGNED
    decimal >= 2^63; the signed-long cast nulled it and dropped every
    member. Route via decimal(20,0) + two's-complement fold."""
    members = ", ".join(f"'m{i}'" for i in range(64))
    info = _info(f"CREATE TABLE t (v SET({members}))", "v")
    top = str(1 << 63)                      # only bit 63 -> 'm63'
    both = str((1 << 63) | 1)               # bits 0 and 63
    allbits = str((1 << 64) - 1)            # every member
    got = _cast(spark, info, [top, both, allbits, "1"])
    assert got[0] == "m63"
    assert got[1] == "m0,m63"
    assert got[2] == ",".join(f"m{i}" for i in range(64))
    assert got[3] == "m0"


# ---------------------------------------------------------------------------
# ADVICE 5: bare DATETIME/TIMESTAMP defaults to fsp=0
# ---------------------------------------------------------------------------


def test_bare_datetime_rounds_to_whole_seconds(spark):
    """MySQL treats DATETIME (no fsp) as fsp=0 and rounds fractional
    seconds half-up; keeping micros was a checksum-visible departure."""
    info = _info("CREATE TABLE t (v DATETIME)", "v")
    got = _cast(
        spark, info,
        ["2021-01-01 10:00:00.499999", "2021-01-01 10:00:00.500000",
         "2021-12-31 23:59:59.7"],
    )
    assert got[0].second == 0 and got[0].microsecond == 0
    assert got[1].second == 1 and got[1].microsecond == 0
    assert got[2].year == 2022  # .7 rounds up across the year boundary
    # explicit fsp still honored
    info6 = _info("CREATE TABLE t (v DATETIME(6))", "v")
    got6 = _cast(spark, info6, ["2021-01-01 10:00:00.123456"])
    assert got6[0].microsecond == 123456


# ---------------------------------------------------------------------------
# Collation gap (r11 verdict item 5): parse COLLATE, warn at ingest
# ---------------------------------------------------------------------------


def test_collate_parsed_and_nonbinary_detected():
    from tidb_lightning_spark.schema.ddl import parse_create_table

    info = parse_create_table(
        "CREATE TABLE t ("
        " a VARCHAR(10) COLLATE utf8mb4_general_ci,"
        " b VARCHAR(10) COLLATE utf8mb4_bin,"
        " c TEXT CHARACTER SET utf8mb4 COLLATE utf8mb4_0900_ai_ci,"
        " d INT"
        ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci"
    )
    assert info.column("a").collation == "utf8mb4_general_ci"
    assert info.column("b").collation == "utf8mb4_bin"
    nonbin = info.non_binary_collations()
    assert set(nonbin) == {"a", "c", "<table>"}
    assert nonbin["<table>"] == "utf8mb4_unicode_ci"


def test_ingest_warns_on_nonbinary_collation(spark, tmp_path, caplog):
    """README 'Collations' contract: a non-binary collation in the DDL
    warns at ingest (the warehouse compares by UTF-8 binary); *_bin
    collations warn nothing."""
    import logging

    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = tmp_path / "dump"
    d.mkdir()
    (d / "cl-schema-create.sql").write_text("CREATE DATABASE cl;")
    (d / "cl.ci-schema.sql").write_text(
        "CREATE TABLE ci (s VARCHAR(10) COLLATE utf8mb4_general_ci);"
    )
    (d / "cl.ci.0.csv").write_text("s\nAbc\n")
    (d / "cl.bin-schema.sql").write_text(
        "CREATE TABLE bin (s VARCHAR(10) COLLATE utf8mb4_bin);"
    )
    (d / "cl.bin.0.csv").write_text("s\nAbc\n")
    cfg = Config.from_toml(
        None, source_dir=str(d), target_dir=str(tmp_path / "wh"),
        checkpoint_enable=False,
    )
    with caplog.at_level(logging.WARNING):
        rep = Restorer(spark, cfg).run()
    assert rep.ok
    warns = [
        r.message for r in caplog.records
        if "non-binary collation" in r.message
    ]
    assert len(warns) == 1
    assert "`cl`.`ci`" in warns[0] and "utf8mb4_general_ci" in warns[0]
    assert "README" in warns[0]


# ---------------------------------------------------------------------------
# exact MySQL-dialect CSV lexer (unit level; e2e in test_reference_golden)
# ---------------------------------------------------------------------------


def test_exact_lexer_one_pass_semantics():
    from tidb_lightning_spark.sources.csv_source import (
        CSVConfig, _lex_mysql_csv,
    )

    cfg = CSVConfig(separator=",", delimiter='"', header=False,
                    null=r"\N", backslash_escape=True)
    # one-pass distinctions univocity destroys:
    #   \\n -> literal backslash-n;  \n -> newline;  "" -> ";  \N -> NULL
    text = (
        '"\\\\n","\\n","""",\\N,plain\n'   # row 1
        '"a""b","x\ny",end,,\n'            # row 2: doubling, embedded LF
    )
    rows = _lex_mysql_csv(text, cfg, 5)
    assert rows[0] == ["\\n", "\n", '"', None, "plain"]
    assert rows[1] == ['a"b', "x\ny", "end", "", ""]


def test_exact_lexer_multichar_separator_and_trim():
    from tidb_lightning_spark.sources.csv_source import (
        CSVConfig, _lex_mysql_csv,
    )

    cfg = CSVConfig(separator="||", delimiter='"', header=False,
                    null=r"\N", backslash_escape=True,
                    trim_last_sep=True)
    # a lone '|' inside an unquoted field is content, not a terminator;
    # trim-last-separator drops the trailing empty field
    rows = _lex_mysql_csv("a|b||c||\nd||e||\n", cfg, 2)
    assert rows == [["a|b", "c"], ["d", "e"]]


def test_exact_dialect_probe_is_bounded(tmp_path):
    from tidb_lightning_spark.sources.csv_source import (
        CSVConfig, EXACT_DIALECT_PROBE_FILES, needs_exact_dialect,
    )

    cfg = CSVConfig(separator=",", delimiter='"', backslash_escape=True)
    clean = []
    for i in range(EXACT_DIALECT_PROBE_FILES + 4):
        p = tmp_path / f"f{i:03d}.csv"
        p.write_text("a,b\n1,2\n")
        clean.append(str(p))
    assert not needs_exact_dialect(clean, cfg)
    # a dirty file INSIDE the probe window triggers
    (tmp_path / "f000.csv").write_text('a,b\n"x""y",2\n')
    assert needs_exact_dialect(clean, cfg)
    # a dirty file OUTSIDE the probe window does not (documented bound;
    # force with csv.exact-dialect for such corpora)
    (tmp_path / "f000.csv").write_text("a,b\n1,2\n")
    last = tmp_path / f"f{EXACT_DIALECT_PROBE_FILES + 3:03d}.csv"
    last.write_text('a,b\n"x""y",2\n')
    assert not needs_exact_dialect(clean, cfg)


def test_exact_lexer_reference_unescape_contract():
    """parser.go:272-302 + csv_parser.go:108-117 parity: unknown escapes
    DROP the backslash (\\N -> N, \\% -> %), a QUOTED "\\N" is null
    under the WithNull flavor (raw compare before unescape), and a
    custom null text compares AFTER unescaping."""
    from tidb_lightning_spark.sources.csv_source import (
        CSVConfig, _lex_mysql_csv,
    )

    cfg = CSVConfig(separator=",", delimiter='"', header=False,
                    null=r"\N", backslash_escape=True)
    rows = _lex_mysql_csv('"\\N",\\N,"\\%x",\\Q\n', cfg, 4)
    assert rows[0] == [None, None, "%x", "Q"]

    # custom null text: compared after unescape ('X' written as '\X')
    cfg2 = CSVConfig(separator=",", delimiter='"', header=False,
                     null="X", backslash_escape=True)
    rows = _lex_mysql_csv("\\X,Y\n", cfg2, 2)
    assert rows[0] == [None, "Y"]

    # no-escape flavor: backslash is data, doubling still collapses
    cfg3 = CSVConfig(separator=",", delimiter='"', header=False,
                     null=r"\N", backslash_escape=False)
    rows = _lex_mysql_csv('"a""b",\\N,"c\\d"\n', cfg3, 3)
    assert rows[0] == ['a"b', None, "c\\d"]


def test_exact_lexer_reference_battery():
    """The reference's own csv_parser_test.go cases, run verbatim
    against the exact lexer: RFC4180 examples, TestMySQL, TestCRLF
    (blank-line skipping), TestQuotedSeparator, TestSpecialChars
    (no-escape flavor), TestContinuation (trim-last-sep), and
    TestBackslashAsSep/Delim."""
    import pytest as _pytest

    from tidb_lightning_spark.sources.csv_source import (
        CSVConfig, _lex_mysql_csv,
    )

    plain = CSVConfig(separator=",", delimiter='"', header=False,
                      null="", backslash_escape=False)
    # RFC4180 ex.1/2: trailing newline or not
    assert _lex_mysql_csv("aaa,bbb,ccc\nzzz,yyy,xxx\n", plain, 3) == [
        ["aaa", "bbb", "ccc"], ["zzz", "yyy", "xxx"]
    ]
    assert _lex_mysql_csv("aaa,bbb,ccc\nzzz,yyy,xxx", plain, 3) == [
        ["aaa", "bbb", "ccc"], ["zzz", "yyy", "xxx"]
    ]
    # ex.6: line breaks within quoted fields
    assert _lex_mysql_csv('"aaa","b\nbb","ccc"\nzzz,yyy,xxx', plain, 3) == [
        ["aaa", "b\nbb", "ccc"], ["zzz", "yyy", "xxx"]
    ]
    # ex.7: quote doubling
    assert _lex_mysql_csv('"aaa","b""bb","ccc"', plain, 3) == [
        ["aaa", 'b"bb', "ccc"]
    ]

    # TestMySQL (backslash escape + \N null)
    my = CSVConfig(separator=",", delimiter='"', header=False,
                   null=r"\N", backslash_escape=True)
    got = _lex_mysql_csv('"\\"","\\\\","\\?"\n"\\\n",\\N,\\\\N', my, 3)
    assert got == [['"', "\\", "?"], ["\n", None, r"\N"]]

    # TestCRLF: \r, \r\n and \n all terminate; consecutive newlines and
    # whitespace-only lines are SKIPPED
    assert _lex_mysql_csv("a\rb\r\nc\n\n\n\nd", plain, 1) == [
        ["a"], ["b"], ["c"], ["d"]
    ]
    assert _lex_mysql_csv(" \r\n\r\n0,,abc\r\n \r\n1,x,y\r\n", plain, 3) == [
        ["0", None, "abc"], ["1", "x", "y"]
    ]

    # TestQuotedSeparator
    assert _lex_mysql_csv('",",\',\'', plain, 3) == [[",", "'", "'"]]

    # TestSpecialChars (no escape flavor: backslash is data)
    assert _lex_mysql_csv("\x00", plain, 1) == [["\x00"]]
    assert _lex_mysql_csv("0\\", plain, 1) == [["0\\"]]
    assert _lex_mysql_csv("\\", plain, 1) == [["\\"]]
    assert _lex_mysql_csv("0\v", plain, 1) == [["0\v"]]
    assert _lex_mysql_csv("\n\r", plain, 1) == []
    assert _lex_mysql_csv('"""",0', plain, 2) == [['"', "0"]]

    # TestContinuation (escape + trim-last-sep)
    cont = CSVConfig(separator=",", delimiter='"', header=False,
                     null=r"\N", backslash_escape=True,
                     trim_last_sep=True)
    got = _lex_mysql_csv(
        '"abcdef",\\njklm,nop\r\n"""""","\\n",a,', cont, 3
    )
    assert got == [
        ["abcdef", "\njklm", "nop"], ['""', "\n", "a"]
    ]

    # TestBackslashAsSep / AsDelim (no escape)
    bsep = CSVConfig(separator="\\", delimiter='"', header=False,
                     null="", backslash_escape=False)
    assert _lex_mysql_csv("0\\", bsep, 2) == [["0", None]]
    assert _lex_mysql_csv("\\", bsep, 2) == [[None, None]]
    bdel = CSVConfig(separator=",", delimiter="\\", header=False,
                     null="", backslash_escape=False)
    assert _lex_mysql_csv("\\\\", bdel, 1) == [[None]]

    # TestSyntaxError: the reference ERRORS on these
    err = CSVConfig(separator=",", delimiter='"', header=False,
                    null=r"\N", backslash_escape=True)
    for bad in ['"???', "\\", '"\\', '0"', "0\\", '"\v', '"""',
                '"\r', '"\x01', '"x"?']:
        with _pytest.raises(ValueError):
            _lex_mysql_csv(bad, err, 1)
    with _pytest.raises(ValueError):
        _lex_mysql_csv('"\\', plain, 1)  # unterminated, no-escape too


def test_sqldump_reference_syntax_battery():
    """mydump/parser_test.go TestVariousSyntax, run against the scanner:
    quoted table names (backtick AND ANSI double-quote — r12 gap),
    float forms preserved verbatim, hex/bit/bool literals, comment
    interleaving, control escapes, and empty binary literals (b'' was
    '0', reference says empty)."""
    from tidb_lightning_spark.sources.sqldump_source import (
        parse_insert_statements,
    )

    def rows(sql):
        return [r for s in parse_insert_statements(sql) for r in s.rows]

    assert rows("INSERT INTO foobar VALUES (1, 2);") == [["1", "2"]]
    assert rows("INSERT INTO `foobar` VALUES (3, 4);") == [["3", "4"]]
    assert rows('INSERT INTO "foobar" VALUES (5, 6);') == [["5", "6"]]
    assert rows(
        "INSERT INTO t VALUES (7, -8, Null, '9'), "
        "(b'10', 0b11, 0x12, x'13'), (\"14\", True, False, 0);"
    ) == [
        ["7", "-8", None, "9"],
        ["2", "3", "\x12", "\x13"],
        ["14", "1", "0", "0"],
    ]
    # float FORMS survive verbatim (typing happens at cast time)
    assert rows(
        "INSERT INTO t VALUES (.15, 1.6, 17.), (1e39, 1e-40, 1e+41), "
        "(-.57E+1, -0.0, 00000);"
    ) == [
        [".15", "1.6", "17."],
        ["1e39", "1e-40", "1e+41"],
        ["-.57E+1", "-0.0", "00000"],
    ]
    # control escapes incl. unknown \a -> a
    assert rows("INSERT INTO t VALUES ('\\0\\b\\n\\r\\t\\Z\\'\\a');") == [
        ["\x00\x08\n\r\t\x1a'a"]
    ]
    # empty binary literals: both empty (b'' used to yield '0')
    assert rows("INSERT INTO t VALUES (b'', x'', B'', X'');") == [
        ["", "", "", ""]
    ]
    # comment-only input and comment interleaving
    assert rows("/* comment */; -- comment") == []
    assert rows(
        "-- comment /* ...\ninsert into xxx -- comment\n"
        "values -- comment\n(true, false), -- comment\n"
        "(null, 00000); -- comment ... */"
    ) == [["1", "0"], [None, "00000"]]


def test_sqldump_scanner_never_raises_raw_exceptions():
    """mydump/parser_test.go TestSyntaxError + TestMoreSyntaxError
    (fuzz-collected) corpus: every malformed input either parses to
    zero statements (bare garbage — legal here because our chunks are
    statement-aligned, unlike the reference's mid-statement chunks) or
    raises SQLDumpError, NEVER a raw IndexError/KeyError (r12 found
    'INSERT INTO t VALUES (3,' crashing at the EOF sign check:
    '' in '+-' is True)."""
    from tidb_lightning_spark.sources.sqldump_source import (
        SQLDumpError, parse_insert_statements,
    )

    corpus = [
        "('xxx)", "(`xxx)", "(/* xxx)", "('\\')", "(", "(1", "(1,",
        "(values)", "3", "(`values`)", "/* ...",
        " usin0", "- ", "-,", "-;", "-", "-(", "-/", '-"', "-`",
        ", '0\\0", ",/*000", "; con0", "''", "'", "'\\", "'0''00",
        "(''''0", "(fals0", "(x'000", "*", "/", "/**", "/*00*0",
        '"', '""', '"\\', '``', "`````0", "0 ", "0,", "0;", "0",
        "\x00;", "\xd9/", "\xde0 b'0",
        "INSERT INTO t VALUES (3,",
        "INSERT INTO t VALUES (3, -",
        "INSERT INTO t VALUES (1,2),(3",
        "INSERT INTO t VALUES (1,'ab",
        "INSERT INTO t VALUES (1,2); INSERT INTO t VALUES (3,",
        "insert into t values (convert('a' using",
        "(" * 100,
    ]
    for bad in corpus:
        try:
            for stmt in parse_insert_statements(bad):
                stmt.rows  # force
        except SQLDumpError:
            pass  # clean, typed failure


def test_schema_read_reader_test_contract():
    """mydump/reader_test.go contract for schema reads: leading block
    comments are skipped, GBK-commented DDL decodes under 'auto'
    (D7DC B0B8 C0FD = 总案例), and gibberish errors instead of
    importing mojikabe."""
    import pytest as _pytest

    from tidb_lightning_spark.schema.ddl import (
        parse_create_database, parse_create_table,
    )
    from tidb_lightning_spark.sources.csv_source import decode_file_bytes

    # TestExportStatementWithComment: comment statement before the DDL
    sql = (
        "\n/* whatever blabla\n multiple lines comment\n */;\n"
        "CREATE DATABASE whatever;\n"
    )
    assert parse_create_database(sql) == "whatever"

    # TestExportStatementGBK under 'auto'
    raw = (
        b"CREATE TABLE a (b int(11) COMMENT '"
        + bytes([0xD7, 0xDC, 0xB0, 0xB8, 0xC0, 0xFD])
        + b"');\n"
    )
    text = decode_file_bytes(raw, "auto", "x.sql")
    info = parse_create_table(text)
    assert info.column("b").comment == "总案例"  # 总案例

    # TestExportStatementGibberishError
    junk = (
        b"\x9e\x02\xdc\xfbZ/=n\xf3\xf2N8\xc1\xf2\xe9\xaa\xd0\x85"
        b"\xc5}\x97\x07\xae6\x97\x99\x9c\x08\xcb\xe8;"
    )
    with _pytest.raises(ValueError, match="auto"):
        decode_file_bytes(junk, "auto", "junk.sql")


def test_loader_strictness_reference_contract(tmp_path):
    """mydump/loader_test.go layout-validation battery: a table whose
    db has no schema-create file, duplicated db/table schema files, and
    a view without its host table schema are STARTUP errors (fail
    loudly, never guess); routing-created target dbs and shard-merged
    schema duplicates stay legal; no-schema mode lifts the checks."""
    import os

    import pytest as _pytest

    from tidb_lightning_spark.sources.loader import discover
    from tidb_lightning_spark.sources.table_router import TableRouter

    def mk(name, files):
        d = tmp_path / name
        for f, content in files:
            p = d / f
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(content)
        return str(d)

    # TestTableNoHostDB / TestDataNoHostDB
    d = mk("nohost", [("notdb-schema-create.sql", "CREATE DATABASE notdb;"),
                      ("db.tbl-schema.sql", "CREATE TABLE tbl (a int);")])
    with _pytest.raises(FileNotFoundError, match="cannot find db 'db'"):
        discover(d)
    # TestDuplicatedDB
    d = mk("dupdb", [("a/db-schema-create.sql", "x"),
                     ("b/db-schema-create.sql", "x")])
    with _pytest.raises(ValueError, match="duplicated item"):
        discover(d)
    # TestDuplicatedTable
    d = mk("duptbl", [("db-schema-create.sql", "x"),
                      ("a/db.tbl-schema.sql", "x"),
                      ("b/db.tbl-schema.sql", "x")])
    with _pytest.raises(ValueError, match="duplicated item"):
        discover(d)
    # TestViewNoHostTable
    d = mk("viewnohost", [("db-schema-create.sql", "x"),
                          ("db.v-schema-view.sql", "CREATE VIEW v AS SELECT 1;")])
    with _pytest.raises(FileNotFoundError, match="miss host table"):
        discover(d)
    # TestDataWithoutSchema: no-schema mode lifts everything
    d = mk("noschema", [("db.tbl.sql", "INSERT INTO tbl VALUES (1);")])
    r = discover(d, no_schema=True)
    assert [(t.db, t.name) for t in r.sorted_tables()] == [("db", "tbl")]
    # shard merge: multiple source schemas for ONE routed target is fine
    d = mk("merge", [
        ("sh-schema-create.sql", "CREATE DATABASE sh;"),
        ("sh.t0-schema.sql", "CREATE TABLE t0 (a int);"),
        ("sh.t1-schema.sql", "CREATE TABLE t1 (a int);"),
        ("sh.t0.csv", "a\n1\n"),
        ("sh.t1.csv", "a\n2\n"),
    ])
    router = TableRouter([{
        "schema-pattern": "sh", "table-pattern": "t*",
        "target-schema": "m", "target-table": "u",
    }], case_sensitive=False)
    r = discover(d, table_router=router)
    assert [(t.db, t.name) for t in r.sorted_tables()] == [("m", "u")]


def test_loader_router_reference_layout(tmp_path):
    """mydump/loader_test.go TestRouter, structure-for-structure: a0
    fully routed away (dropped), a1 keeps its unrouted s1 + view v1,
    b.u shard-merges three source tables' data files in order, c0
    renames to c, the empty d0 survives, and the e0.f0 VIEW routes to
    v.vv."""
    from tidb_lightning_spark.sources.loader import discover
    from tidb_lightning_spark.sources.table_router import TableRouter

    files = {
        "a0-schema-create.sql": "CREATE DATABASE a0;",
        "a0.t0-schema.sql": "CREATE TABLE t0(a int);",
        "a0.t0.1.sql": "INSERT INTO t0 VALUES (1);",
        "a0.t1-schema.sql": "CREATE TABLE t1(a int);",
        "a0.t1.1.sql": "INSERT INTO t1 VALUES (2);",
        "a1-schema-create.sql": "CREATE DATABASE a1;",
        "a1.s1-schema.sql": "CREATE TABLE s1(a int);",
        "a1.s1.1.sql": "INSERT INTO s1 VALUES (3);",
        "a1.t2-schema.sql": "CREATE TABLE t2(a int);",
        "a1.t2.1.sql": "INSERT INTO t2 VALUES (4);",
        "a1.v1-schema.sql": "CREATE TABLE v1(a int);",
        "a1.v1-schema-view.sql": "CREATE VIEW v1 (a) AS SELECT 1;",
        "c0-schema-create.sql": "CREATE DATABASE c0;",
        "c0.t3-schema.sql": "CREATE TABLE t3(a int);",
        "c0.t3.1.sql": "INSERT INTO t3 VALUES (5);",
        "d0-schema-create.sql": "CREATE DATABASE d0;",
        "e0-schema-create.sql": "CREATE DATABASE e0;",
        "e0.f0-schema.sql": "CREATE TABLE f0(a int);",
        "e0.f0-schema-view.sql": "CREATE VIEW f0 (a) AS SELECT 1;",
    }
    for f, c in files.items():
        (tmp_path / f).write_text(c)
    router = TableRouter([
        {"schema-pattern": "a*", "table-pattern": "t*",
         "target-schema": "b", "target-table": "u"},
        {"schema-pattern": "c*", "target-schema": "c"},
        {"schema-pattern": "e*", "table-pattern": "f*",
         "target-schema": "v", "target-table": "vv"},
    ], case_sensitive=False)
    r = discover(str(tmp_path), table_router=router)
    import os

    got = {
        (db, t.name): (
            [os.path.basename(f.path) for f in t.data_files],
            os.path.basename(t.schema_file) if t.schema_file else None,
            t.view_schema_file is not None,
        )
        for db, m in r.databases.items()
        for t in m.tables.values()
    }
    assert got == {
        ("a1", "s1"): (["a1.s1.1.sql"], "a1.s1-schema.sql", False),
        ("a1", "v1"): ([], "a1.v1-schema.sql", True),
        ("b", "u"): (
            ["a0.t0.1.sql", "a0.t1.1.sql", "a1.t2.1.sql"],
            "a0.t0-schema.sql", False,
        ),
        ("c", "t3"): (["c0.t3.1.sql"], "c0.t3-schema.sql", False),
        ("v", "vv"): ([], "e0.f0-schema.sql", True),
    }
    assert set(r.databases) == {"a1", "b", "c", "d0", "v"}  # a0 dropped
    assert not r.databases["d0"].tables  # empty db survives


# ---------------------------------------------------------------------------
# config_test.go mining: Adjust()-contract battery
# ---------------------------------------------------------------------------


def _cfg_from(tmp_path, body: str):
    from tidb_lightning_spark.config import Config

    p = tmp_path / "t.toml"
    p.write_text('[mydumper]\ndata-source-dir = "/x"\n' + body)
    return Config.from_toml(str(p))


def test_backslash_separator_with_escape_is_error(tmp_path):
    """config.go:510-516 / config_test.go:374-389: '\\' can't be the
    separator or delimiter while backslash-escape is on."""
    with pytest.raises(ValueError, match="as CSV separator"):
        _cfg_from(
            tmp_path,
            "[mydumper.csv]\nseparator = '\\'\nbackslash-escape = true\n",
        )
    with pytest.raises(ValueError, match="as CSV delimiter"):
        _cfg_from(
            tmp_path,
            "[mydumper.csv]\ndelimiter = '\\'\nbackslash-escape = true\n",
        )
    # with escaping off both are legal (config_test.go case 4/8)
    cfg = _cfg_from(
        tmp_path,
        "[mydumper.csv]\nseparator = '\\'\nbackslash-escape = false\n",
    )
    assert cfg.csv.separator == "\\"
    # exact equality: a multi-char separator CONTAINING '\' is fine
    # (config_test.go case 9: separator='\s', delimiter='\d')
    cfg = _cfg_from(
        tmp_path,
        "[mydumper.csv]\nseparator = '\\s'\ndelimiter = '\\d'\n",
    )
    assert cfg.csv.separator == "\\s"


def test_invalid_sql_mode_is_startup_error(tmp_path):
    """config_test.go:391-396: an unknown sql_mode component refuses
    startup instead of silently flipping strictness."""
    with pytest.raises(ValueError, match="valid SQL_MODE"):
        _cfg_from(tmp_path, '[tidb]\nsql-mode = "invalid-sql-mode"\n')
    # valid compound modes parse; either strict flavor enables strict
    cfg = _cfg_from(
        tmp_path,
        '[tidb]\nsql-mode = "STRICT_ALL_TABLES,NO_ZERO_DATE"\n',
    )
    assert cfg.strict_sql_mode
    cfg = _cfg_from(tmp_path, '[tidb]\nsql-mode = "TRADITIONAL"\n')
    assert cfg.strict_sql_mode
    cfg = _cfg_from(tmp_path, '[tidb]\nsql-mode = "ANSI_QUOTES"\n')
    assert not cfg.strict_sql_mode


def test_route_rule_empty_patterns_are_startup_errors(tmp_path):
    """config_test.go:398-412 (tidb-tools router.Valid parity)."""
    with pytest.raises(ValueError, match="schema pattern of table route"):
        _cfg_from(
            tmp_path,
            '[[routes]]\nschema-pattern = ""\ntable-pattern = "shard_*"\n',
        )
    with pytest.raises(ValueError, match="target schema of table route"):
        _cfg_from(
            tmp_path,
            '[[routes]]\nschema-pattern = "schema_*"\ntable-pattern = ""\n',
        )
    # a complete rule passes
    cfg = _cfg_from(
        tmp_path,
        '[[routes]]\nschema-pattern = "schema_*"\n'
        'target-schema = "merged"\n',
    )
    assert cfg.routes[0]["target-schema"] == "merged"


def test_file_route_abs_path_relativized_or_refused(tmp_path):
    """config_test.go:137-155: an absolute [[mydumper.files]] path
    outside the source dir is a startup error; inside, it's rewritten
    source-relative (the router matches relative keys — an absolute
    path left as-is would silently never route)."""
    from tidb_lightning_spark.config import Config

    src = tmp_path / "src"
    src.mkdir()
    outside = str(tmp_path / "elsewhere" / "1.sql")
    p = tmp_path / "t.toml"
    p.write_text(
        "[mydumper]\n"
        f'data-source-dir = "{src}"\n'
        "[[mydumper.files]]\n"
        f'path = "{outside}"\n'
        'type = "sql"\nschema = "test"\ntable = "tbl"\n'
    )
    with pytest.raises(ValueError, match="is not in source dir"):
        Config.from_toml(str(p))

    inside = str(src / "test_dir" / "1.sql")
    p.write_text(
        "[mydumper]\n"
        f'data-source-dir = "{src}"\n'
        "[[mydumper.files]]\n"
        f'path = "{inside}"\n'
        'type = "sql"\nschema = "test"\ntable = "tbl"\n'
    )
    cfg = Config.from_toml(str(p))
    assert cfg.file_routes[0]["path"] == "test_dir/1.sql"


def test_cron_duration_parse_contract(tmp_path):
    """config_test.go:453-460: '13m20s' parses, '13x20s' is refused —
    the cron knobs are Spark-obsolete but a malformed duration still
    fails loudly like any other typo'd key."""
    from tidb_lightning_spark.config import _go_duration

    assert _go_duration("cron.switch-mode", "13m20s") == 13 * 60 + 20.0
    assert _go_duration("cron.x", "1.5h") == 5400.0
    with pytest.raises(ValueError, match="unknown unit"):
        _go_duration("cron.switch-mode", "13x20s")
    cfg = _cfg_from(tmp_path, '[cron]\nswitch-mode = "5m"\n')
    assert cfg is not None
    with pytest.raises(ValueError, match="unknown unit"):
        _cfg_from(tmp_path, '[cron]\nlog-progress = "13x20s"\n')


def test_post_restore_tristate_contract(tmp_path):
    """config_test.go:572-619: booleans map to required/off; an invalid
    op level is refused."""
    cfg = _cfg_from(tmp_path, "[post-restore]\nchecksum = true\n")
    assert cfg.checksum == "required"
    cfg = _cfg_from(tmp_path, "[post-restore]\nchecksum = false\n")
    assert cfg.checksum == "off"
    cfg = _cfg_from(tmp_path, '[post-restore]\nanalyze = "optional"\n')
    assert cfg.analyze == "optional"
    with pytest.raises(ValueError, match="tristate"):
        _cfg_from(tmp_path, '[post-restore]\nchecksum = "req"\n')


# ---------------------------------------------------------------------------
# region_test.go mining: AllocateEngineIDs exact distributions
# ---------------------------------------------------------------------------


def _engine_hist(ids):
    hist = {}
    for i in ids:
        hist[i] = hist.get(i, 0) + 1
    return hist


def test_allocate_engine_ids_reference_distributions():
    """region_test.go:107-186 verbatim: 700 unit-size files under every
    (batch size, ratio, concurrency) case must land in the reference's
    exact engine histogram — the Beta-ratio pipeline curve is pinned,
    not approximated."""
    from tidb_lightning_spark.pipeline import allocate_engine_ids

    sizes = [1.0] * 700

    # batch size > total => everything in engine 0
    assert _engine_hist(allocate_engine_ids(sizes, 1000, 0.5, 1000)) == {0: 700}

    assert _engine_hist(allocate_engine_ids(sizes, 200, 0.5, 1000)) == {
        0: 170, 1: 213, 2: 317,
    }

    assert _engine_hist(allocate_engine_ids(sizes, 200, 0.6, 1000)) == {
        0: 160, 1: 208, 2: 332,
    }

    assert _engine_hist(allocate_engine_ids(sizes, 100, 0.5, 1000)) == {
        0: 93, 1: 105, 2: 122, 3: 153, 4: 227,
    }

    # engines > table concurrency: batch resets to uniform past N
    assert _engine_hist(allocate_engine_ids(sizes, 50, 0.5, 4)) == {
        0: 50, 1: 59, 2: 73, 3: 110, 4: 50, 5: 50, 6: 50, 7: 50,
        8: 50, 9: 50, 10: 50, 11: 50, 12: 8,
    }

    # zero ratio = uniform
    assert _engine_hist(allocate_engine_ids(sizes, 100, 0.0, 1000)) == {
        i: 100 for i in range(7)
    }


def test_batch_import_ratio_config_wiring(tmp_path):
    """mydumper.batch-import-ratio: parsed, invalid resets to 0.75
    (config_test.go:203-210), unset keeps the uniform default."""
    cfg = _cfg_from(tmp_path, "batch-import-ratio = 0.5\n")
    assert cfg.batch_import_ratio == 0.5
    cfg = _cfg_from(tmp_path, "batch-import-ratio = -1\n")
    assert cfg.batch_import_ratio == 0.75
    cfg = _cfg_from(tmp_path, "")
    assert cfg.batch_import_ratio is None


# ---------------------------------------------------------------------------
# parquet_parser_test.go mining: TIME logical types + TestParquetVariousTypes
# ---------------------------------------------------------------------------


def _write_time_parquet(path, n=2, with_null=False):
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    tm = [datetime.time(17, 26, 15, 123000)] * n
    if with_null:
        tm[-1] = None
    t = pa.table(
        {
            "k": pa.array(range(n), pa.int32()),
            "tmillis": pa.array(tm, pa.time32("ms")),
            "tmicros": pa.array(tm, pa.time64("us")),
        }
    )
    pq.write_table(t, path)


def test_parquet_time_columns_arrow_fallback(spark, tmp_path):
    """Spark's native reader refuses parquet TIME(MILLIS/MICROS) columns
    ([PARQUET_TYPE_ILLEGAL]); the reference reads them as MySQL TIME
    strings (parquet_parser.go:333-343, parquet_parser_test.go:84-157
    expects '17:26:15.123' for both units). The Arrow fallback scan
    converts per-file, NULLs survive, and the real _metadata struct
    carries (file_path, row_index) for resume-stable row ids."""
    from tidb_lightning_spark.sources.parquet_source import read_table

    p = str(tmp_path / "t.parquet")
    _write_time_parquet(p, n=3, with_null=True)
    df = read_table(spark, p)
    rows = {r["k"]: r for r in df.collect()}
    assert rows[0]["tmillis"] == "17:26:15.123"
    assert rows[0]["tmicros"] == "17:26:15.123"
    assert rows[2]["tmillis"] is None
    assert rows[2]["tmicros"] is None
    # real metadata: in-file row index for footer-based rowid allocation
    assert [rows[k]["_metadata"]["row_index"] for k in (0, 1, 2)] == [0, 1, 2]
    # non-TIME tables stay on the native vectorized reader (no real
    # _metadata column in the schema)
    import pandas as pd

    plain = str(tmp_path / "plain.parquet")
    pd.DataFrame({"a": [1, 2]}).to_parquet(plain)
    assert "_metadata" not in read_table(spark, plain).columns


def test_parquet_various_types_reference_values(spark, tmp_path):
    """TestParquetVariousTypes (parquet_parser_test.go:84-157): DATE,
    TIMESTAMP millis/micros and DECIMAL over INT32/INT64/BYTE_ARRAY all
    restore the reference's exact rendered values through the normal
    native-reader + MySQL-cast chain."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidb_lightning_spark.sources.parquet_source import read_table

    p = str(tmp_path / "v.parquet")
    t = pa.table(
        {
            "date": pa.array([datetime.date(2020, 10, 29)], pa.date32()),
            "tsmillis": pa.array(
                [datetime.datetime(2020, 10, 29, 17, 27, 52, 356000)],
                pa.timestamp("ms"),
            ),
            "tsmicros": pa.array(
                [datetime.datetime(2020, 10, 29, 17, 27, 52, 356956)],
                pa.timestamp("us"),
            ),
            "decimal1": pa.array([decimal.Decimal("-123456.78")], pa.decimal128(9, 2)),
            "decimal2": pa.array([decimal.Decimal("0.0456")], pa.decimal128(4, 4)),
            "decimal3": pa.array(
                [decimal.Decimal("1234567890123456.78")], pa.decimal128(18, 2)
            ),
            "decimal5": pa.array(
                [decimal.Decimal("-1234567890123456.78")], pa.decimal128(20, 2)
            ),
            "decimal6": pa.array([decimal.Decimal("-0.0001")], pa.decimal128(4, 4)),
        }
    )
    pq.write_table(t, p)
    df = read_table(spark, p)
    r = df.collect()[0]
    assert str(r["date"]) == "2020-10-29"
    assert r["tsmillis"] == datetime.datetime(2020, 10, 29, 17, 27, 52, 356000)
    assert r["tsmicros"] == datetime.datetime(2020, 10, 29, 17, 27, 52, 356956)
    assert str(r["decimal1"]) == "-123456.78"
    assert str(r["decimal2"]) == "0.0456"
    assert str(r["decimal3"]) == "1234567890123456.78"
    assert str(r["decimal5"]) == "-1234567890123456.78"
    assert str(r["decimal6"]) == "-0.0001"


def test_parquet_time_table_end_to_end(spark, tmp_path):
    """A TIME-typed parquet dump restores through the full pipeline —
    including auto-increment backfill, which drives the footer-based
    row-id allocation over the fallback's real _metadata struct."""
    import os as _os

    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")
    _os.makedirs(d)
    open(f"{d}/tdb-schema-create.sql", "w").write("CREATE DATABASE tdb;")
    open(f"{d}/tdb.shifts-schema.sql", "w").write(
        "CREATE TABLE shifts (id INT PRIMARY KEY AUTO_INCREMENT, "
        "k INT, tmillis TIME, tmicros TIME);"
    )
    _write_time_parquet(f"{d}/tdb.shifts.0.parquet", n=4)
    target = str(tmp_path / "wh")
    cfg = Config.from_toml(
        None, source_dir=d, target_dir=target, checkpoint_enable=False
    )
    rep = Restorer(spark, cfg).run()
    assert rep.ok, [t.error for t in rep.tables]
    out = spark.read.parquet(f"{target}/tdb/shifts")
    rows = sorted((r["id"], r["tmillis"]) for r in out.collect())
    assert [r[0] for r in rows] == [1, 2, 3, 4]
    assert all("17:26:15" in str(r[1]) for r in rows)
    assert "_metadata" not in out.columns


# ---------------------------------------------------------------------------
# bytesize_test.go mining: the ByteSize decode contract
# ---------------------------------------------------------------------------


def test_bytesize_decode_contract():
    """bytesize_test.go:30-113 verbatim (minus TOML-native type cases
    tomllib already enforces): suffixed strings, spacing, float
    truncation, and loud rejection of negatives/booleans/garbage."""
    from tidb_lightning_spark.config import _size

    assert _size(10000) == 10000
    assert _size(107_374_182_400) == 107_374_182_400
    assert _size("10k") == 10 * 1024
    assert _size("10PiB") == 10 * 1024**5
    assert _size("10 KB") == 10 * 1024
    assert _size("32768") == 32768
    assert _size(256.0) == 256
    assert _size(256.9) == 256
    assert _size(10e9) == 10_000_000_000
    assert _size("2.5MB") == 5 * 512 * 1024
    for bad in (-1, "invalid value", True, "-5k"):
        with pytest.raises(ValueError, match="invalid size"):
            _size(bad)


# ---------------------------------------------------------------------------
# restore_test.go TestVerifyCheckpoint mining: refuse resume under a
# changed config
# ---------------------------------------------------------------------------


def test_verify_checkpoint_refuses_changed_config(spark, tmp_path):
    """restore_test.go:123-219: a checkpoint is only valid under the
    config that created it — resuming with a different source dir /
    backend facet / version errors with the reference's message shape;
    lightning.check-requirements=false skips the refusal."""
    import os as _os
    import shutil

    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import IngestError, Restorer
    from tidb_lightning_spark.sinks.files_sink import FilesSink

    d = str(tmp_path / "dump")
    _os.makedirs(d)
    open(f"{d}/v-schema-create.sql", "w").write("CREATE DATABASE v;")
    open(f"{d}/v.t-schema.sql", "w").write(
        "CREATE TABLE t (a INT PRIMARY KEY, b VARCHAR(10));"
    )
    for i in range(2):
        rows = "\n".join(f"{i * 100 + j},x{j}" for j in range(100))
        open(f"{d}/v.t.{i:03d}.csv", "w").write("a,b\n" + rows + "\n")
    sizes = [_os.path.getsize(f"{d}/v.t.{i:03d}.csv") for i in range(2)]
    target = str(tmp_path / "wh")

    def make_cfg(**kw):
        return Config.from_toml(
            None, source_dir=d, target_dir=target,
            engine_bytes=max(sizes) + 10, checksum="off", **kw,
        )

    # failpoint: die after the first engine, leaving a task checkpoint
    orig = FilesSink.write_engine
    calls = {"n": 0}

    def failing(self, df, db, table, engine, **kw):
        if calls["n"] == 1:
            raise RuntimeError("failpoint")
        calls["n"] += 1
        return orig(self, df, db, table, engine, **kw)

    FilesSink.write_engine = failing
    try:
        rep = Restorer(spark, make_cfg()).run()
    finally:
        FilesSink.write_engine = orig
    assert not rep.ok

    # changed source dir -> refused with the reference message shape
    d2 = str(tmp_path / "dump2")
    shutil.copytree(d, d2)
    with pytest.raises(IngestError, match=r"config 'mydumper.data-source-dir' value .* different from checkpoint value"):
        Restorer(spark, Config.from_toml(
            None, source_dir=d2, target_dir=target,
            engine_bytes=max(sizes) + 10, checksum="off",
        ))

    # changed backend facet -> refused
    with pytest.raises(IngestError, match=r"config 'tikv-importer.output-format'"):
        Restorer(spark, make_cfg(output_format="orc"))

    # changed version -> refused
    import tidb_lightning_spark as pkg

    real = pkg.__version__
    pkg.__version__ = "99.0.0"
    try:
        with pytest.raises(IngestError, match="checkpoint was created at"):
            Restorer(spark, make_cfg())
    finally:
        pkg.__version__ = real

    # check-requirements=false skips the refusal (reference parity) and
    # the resume completes even under the changed source dir
    rep2 = Restorer(spark, Config.from_toml(
        None, source_dir=d2, target_dir=target,
        engine_bytes=max(sizes) + 10, checksum="off",
        check_requirements=False,
    )).run()
    assert rep2.ok, [t.error for t in rep2.tables]
    got = spark.read.parquet(f"{target}/v/t").count()
    assert got == 200


def test_csv_column_count_mismatch_errors(spark, tmp_path):
    """restore_test.go:1043-1078 (TestEncodeLoopColumnsMismatch): a CSV
    row with MORE fields than the table has columns fails the import
    with a column-count-mismatch error — Spark's narrower schema was
    silently dropping the surplus values."""
    import os as _os

    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer

    d = str(tmp_path / "dump")
    _os.makedirs(d)
    open(f"{d}/db-schema-create.sql", "w").write("CREATE DATABASE db;")
    open(f"{d}/db.t-schema.sql", "w").write("CREATE TABLE t (a INT, b INT, c INT);")
    open(f"{d}/db.t.000.csv", "w").write("1,2,3,4\r\n4,5,6,7\r\n")
    import dataclasses

    cfg = Config.from_toml(
        None, source_dir=d, target_dir=str(tmp_path / "wh"), checksum="off"
    )
    cfg.csv = dataclasses.replace(cfg.csv, header=False)
    rep = Restorer(spark, cfg).run()
    assert not rep.ok
    assert "column count mismatch" in (rep.tables[0].error or "")

    # exact-width rows still import (incl. trailing empty field staying
    # a FIELD, which is a mismatch for a 3-column table)
    d2 = str(tmp_path / "dump_ok")
    _os.makedirs(d2)
    open(f"{d2}/db-schema-create.sql", "w").write("CREATE DATABASE db;")
    open(f"{d2}/db.t-schema.sql", "w").write("CREATE TABLE t (a INT, b INT, c INT);")
    open(f"{d2}/db.t.000.csv", "w").write("1,2,3\r\n4,5,6\r\n")
    cfg2 = Config.from_toml(
        None, source_dir=d2, target_dir=str(tmp_path / "wh2"), checksum="off"
    )
    cfg2.csv = dataclasses.replace(cfg2.csv, header=False)
    rep2 = Restorer(spark, cfg2).run()
    assert rep2.ok, [t.error for t in rep2.tables]
    assert spark.read.parquet(str(tmp_path / "wh2/db/t")).count() == 2


def test_unknown_header_columns_error(spark):
    """restore_test.go:620-646 (TestInitializeColumns): a CSV header /
    INSERT column list naming columns the table doesn't have errors
    with 'unknown columns in header [e d]' — silently dropping them
    NULLed the real column a typo'd header meant to fill. Known
    permutations (reorder, subset, _tidb_rowid) keep working."""
    from tidb_lightning_spark.operators.transform import permute_columns

    info = parse_create_table("CREATE TABLE t (a INT, b INT, c INT)")
    df = spark.createDataFrame(
        [("1", "2", "3", "4")], "_c0 string, _c1 string, _c2 string, _c3 string"
    )
    with pytest.raises(ValueError, match=r"unknown columns in header \[e d\]"):
        permute_columns(df, info, ["e", "b", "c", "d"])
    with pytest.raises(ValueError, match=r"unknown columns in header \[d\]"):
        permute_columns(df, info, ["_tidb_rowid", "b", "a", "d"])
    # reference-permutation equivalents still map (initializeColumns
    # {2,1,3,0} case: rowid + reorder)
    out = permute_columns(df, info, ["_tidb_rowid", "b", "a", "c"])
    r = out.collect()[0]
    assert (r["a"], r["b"], r["c"], r["_tidb_rowid"]) == ("3", "2", "4", "1")
    # subset header: missing schema columns become NULL for defaults
    df2 = spark.createDataFrame([("9",)], "_c0 string")
    r2 = permute_columns(df2, info, ["b"]).collect()[0]
    assert (r2["a"], r2["b"], r2["c"]) == (None, "9", None)
