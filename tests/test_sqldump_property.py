"""Property-based tests (hypothesis) for the SQL-dump literal grammar.

The reference covers its parser with large literal tables + a ragel
grammar (mydump/parser.go, parser_generated.go); we get the same breadth
by generating random row values, rendering them the way mydumper writes
INSERT statements (MySQL escaping), and asserting the parse round-trips.
Driver-side pure-Python — no Spark session needed, so hypothesis can run
hundreds of examples in milliseconds.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from tidb_lightning_spark.sources.sqldump_source import (
    parse_insert_statements,
    split_sql_file,
)

# MySQL mysqldump-style escaping for string literals: backslash-escape the
# control set, single-quote the rest verbatim.
_ESCAPES = {
    "\0": "\\0",
    "\n": "\\n",
    "\t": "\\t",
    "\r": "\\r",
    "\b": "\\b",
    "\x1a": "\\Z",
    "'": "\\'",
    "\\": "\\\\",
}


def mysql_quote(s: str) -> str:
    return "'" + "".join(_ESCAPES.get(c, c) for c in s) + "'"


text_values = st.text(
    # printable ASCII + the escape-relevant controls + some unicode
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",)
    ),
    max_size=40,
)
int_values = st.integers(min_value=-(2**63), max_value=2**63 - 1)
float_values = st.floats(
    allow_nan=False, allow_infinity=False, width=64
).map(lambda f: float(f"{f:.6g}"))
cell = st.one_of(st.none(), int_values, float_values, text_values)
rows_strategy = st.lists(
    st.lists(cell, min_size=1, max_size=6), min_size=1, max_size=8
).filter(lambda rows: len({len(r) for r in rows}) == 1)


def render_insert(table: str, rows: list[list]) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return mysql_quote(v)
        return repr(v)

    vals = ",\n".join("(" + ",".join(lit(v) for v in r) + ")" for r in rows)
    return f"INSERT INTO `{table}` VALUES\n{vals};\n"


def expect_cell(v):
    if v is None:
        return None
    if isinstance(v, str):
        return v
    return repr(v)


_PAD = st.sampled_from(["", "", " ", "  ", "\t", "\n", "\r\n"])


def _any_case(draw, word: str) -> str:
    return "".join(c.lower() if draw(st.booleans()) else c for c in word)


@st.composite
def loose_inserts(draw):
    """(text, expected rows) in the loose shapes hand-written and
    mysqldump --insert-ignore/--complete-insert dumps use: whitespace
    around fields, NULL/TRUE/FALSE in any case, '+' on numbers, IGNORE
    and a backticked column list."""
    width = draw(st.integers(1, 5))
    rows = draw(st.lists(
        st.lists(st.one_of(cell, st.booleans()),
                 min_size=width, max_size=width),
        min_size=1, max_size=6,
    ))

    def lit(v):
        """(literal text, the datum it parses to)"""
        if v is None:
            return _any_case(draw, "NULL"), None
        if isinstance(v, bool):
            return _any_case(draw, str(v).upper()), "1" if v else "0"
        if isinstance(v, str):
            return mysql_quote(v), v
        r = repr(v)
        plus = "+" if r[0] != "-" and draw(st.booleans()) else ""
        return plus + r, r

    text_rows, want = [], []
    for r in rows:
        pairs = [lit(v) for v in r]
        text_rows.append("(" + ",".join(
            draw(_PAD) + t + draw(_PAD) for t, _ in pairs
        ) + ")")
        want.append([w for _, w in pairs])
    ignore = " IGNORE" if draw(st.booleans()) else ""
    cols = ""
    if draw(st.booleans()):
        cols = " (" + ",".join(
            draw(_PAD) + f"`c{i}`" + draw(_PAD) for i in range(width)
        ) + ")"
    text = (
        f"INSERT{ignore} INTO `t`{cols} VALUES "
        + ("," + draw(_PAD)).join(text_rows) + ";\n"
    )
    return text, want


@settings(max_examples=300, deadline=None)
@given(rows=rows_strategy)
def test_insert_roundtrip(rows):
    text = render_insert("t", rows)
    stmts = list(parse_insert_statements(text))
    assert len(stmts) == 1
    got = stmts[0].rows
    want = [[expect_cell(v) for v in r] for r in rows]
    assert got == want


@settings(max_examples=100, deadline=None)
@given(rows=rows_strategy, n_stmts=st.integers(min_value=1, max_value=4))
def test_multi_statement_and_noise(rows, n_stmts):
    """Interleaved comments/SET statements must be skipped; every INSERT
    must surface with its rows in order."""
    noise = (
        "-- mysqldump noise\n/*!40101 SET NAMES utf8mb4 */;\n"
        "SET @saved_cs_client = @@character_set_client;\n"
    )
    text = noise + noise.join(render_insert("t", rows) for _ in range(n_stmts))
    stmts = list(parse_insert_statements(text))
    assert len(stmts) == n_stmts
    want = [[expect_cell(v) for v in r] for r in rows]
    for s in stmts:
        assert s.rows == want


@settings(max_examples=50, deadline=None)
@given(rows=rows_strategy)
def test_chunk_split_preserves_statements(rows):
    """split_sql_file byte ranges must cover every statement exactly once
    regardless of where the chunk boundary lands."""
    import tempfile, os

    text = "".join(render_insert("t", rows) for _ in range(6))
    with tempfile.NamedTemporaryFile(
        "w", suffix=".sql", delete=False, encoding="utf-8"
    ) as f:
        f.write(text)
        path = f.name
    try:
        total_rows = 0
        raw = open(path, "rb").read()
        # small chunk size to force many split points
        for start, end in split_sql_file(path, chunk_bytes=64):
            piece = raw[start:end].decode("utf-8")
            for s in parse_insert_statements(piece):
                total_rows += len(s.rows)
        assert total_rows == 6 * len(rows)
    finally:
        os.unlink(path)


def test_fast_row_path_matches_scanner_differentially():
    """On a statement mix covering every literal class (clean + escaped
    strings, doubled quotes, signs, scientific, and the hex/bit literals
    and empty tuple that leave the chunk to the scanner), the parse must
    be identical with the vectorized parse enabled and disabled."""
    from tidb_lightning_spark.sources import sqldump_source as S

    rows = (
        "INSERT INTO `t` VALUES (1, 'plain', NULL, 2.5),"
        "(-3, '+esc\\n\\t\\0\\Z\\\\x', TRUE, 1e+16),"
        "(+7, 'double''quote', FALSE, .5),"
        "(9, 'tail)par,en(', NULL, -1.5E-7);\n"
        "SET NAMES utf8;\n"
    )
    rest = (
        "INSERT INTO `t` VALUES (0x41424a, X'4243', b'1010', 0b11);\n"
        "INSERT INTO `t` (`a`,`b`,`c`,`d`) VALUES (), ('x', 'y', 'z', 'w')\n"
    )
    assert S._vector_rows_table(rows, 4) is not None
    assert S._vector_rows_table(rows + rest, 4) is None
    for text in (rows, rows + rest):
        got = _parse(S, text, 4)
        assert got.equals(_parse(S, text, 4, vector=False)), text
    # sanity: escapes and hex actually decoded
    vals = got.drop(columns="_row_seq").values.tolist()
    assert vals[1][1] == "+esc\n\t\0\x1a\\x" and vals[1][2] == "1"
    assert vals[2][0] == "7" and vals[2][1] == "double'quote"
    assert vals[4] == ["ABJ", "BC", "10", "3"]
    assert vals[6] == ["x", "y", "z", "w"]


@settings(max_examples=200, deadline=None)
@given(case=loose_inserts())
def test_fast_path_differential_property(case):
    """Loose generated dumps through _row_batches: the vectorized parse
    and the scanner give identical frames, and both give the expected
    values."""
    from tidb_lightning_spark.sources import sqldump_source as S

    text, want = case
    n_cols = len(want[0])
    got = _parse(S, text, n_cols)
    assert got.equals(_parse(S, text, n_cols, vector=False))
    assert got.drop(columns="_row_seq").values.tolist() == want


def _parse(S, text, n_cols, vector=True):
    """_row_batches (the production parse face) as one pandas frame,
    rows numbered from 100. vector=False forces the scanner by disabling
    the vectorized parse."""
    import pandas as pd
    import pyarrow as pa

    orig = S._vector_rows_table
    if not vector:
        S._vector_rows_table = lambda *a: None
    try:
        batches = list(S._row_batches(text, n_cols, 100, "t.sql"))
    finally:
        S._vector_rows_table = orig
    if not batches:
        return pd.DataFrame()
    return pa.Table.from_batches(batches).to_pandas()


def test_vector_tier_engages_and_matches_scanner():
    """r10 vectorized tier: on a clean mydumper-shaped chunk the vector
    path must (a) actually ENGAGE — the scanner is never invoked
    — and (b) produce frames identical to the scanner's, including
    _row_seq continuity across statements."""
    from tidb_lightning_spark.sources import sqldump_source as S

    text = (
        "/*!40101 SET NAMES binary*/;\n"
        "INSERT INTO `bench`.`t` VALUES (1,'a b',NULL,2.5),"
        "(-3,'1998-01-02 03:04:05',8,.5),(4,'x,y(z)',9,-1.5);\n"
        "INSERT INTO `bench`.`t` VALUES (5,'q',NULL,0.0);\n"
    )
    orig = S.parse_insert_statements

    def boom(*a):  # pragma: no cover - failure path
        raise AssertionError("vector tier bailed on a clean chunk")

    S.parse_insert_statements = boom
    try:
        got = _parse(S, text, 4)
    finally:
        S.parse_insert_statements = orig
    want = _parse(S, text, 4, vector=False)
    assert got.equals(want)
    assert got["_row_seq"].tolist() == [100, 101, 102, 103]
    assert got.iloc[0, 1] == "a b" and got.iloc[2, 1] == "x,y(z)"
    assert got.iloc[0, 2] is None or got.iloc[0, 2] != got.iloc[0, 2]


def test_vector_tier_takes_escapes_padding_and_header_forms():
    """Escapes, doubled quotes, quoted text that looks like a literal,
    padded rows with any-case words and '+' numbers, INSERT IGNORE and a
    backticked column list all stay on the vectorized parse (the scanner
    is never invoked) and give the scanner's frames."""
    from tidb_lightning_spark.sources import sqldump_source as S

    cases = [
        r"INSERT INTO t VALUES (1,'a\nb'),(2,'it\'s \\ \0\Z\x');",
        "INSERT INTO t VALUES (1,'d''q'),(2,'''');",
        "INSERT INTO t VALUES (1,'+1'),(2,'TRUE'),(3,'0x41'),"
        "(4,'\"q\"'),(5,'null'),(6,'default');",
        "INSERT INTO t VALUES ( +1 , 'x' ),\n( null ,\tTrUe ),"
        "(+.5e+3,FALSE),(-1e-3 , NULL );",
        "INSERT IGNORE INTO `t` VALUES (1,'x'),(2,'y');",
        "INSERT INTO `t` (`a`, `b`) VALUES (1,'x'),(2,'y');",
    ]
    orig = S.parse_insert_statements

    def boom(*a):  # pragma: no cover - failure path
        raise AssertionError("the vectorized parse left a chunk to the scanner")

    frames = []
    for text in cases:
        S.parse_insert_statements = boom
        try:
            got = _parse(S, text, 2)
        finally:
            S.parse_insert_statements = orig
        assert got.equals(_parse(S, text, 2, vector=False)), text
        frames.append(got.drop(columns="_row_seq").values.tolist())
    assert frames[0] == [["1", "a\nb"], ["2", "it's \\ \0\x1ax"]]
    assert frames[1] == [["1", "d'q"], ["2", "'"]]
    assert [v for _, v in frames[2]] == [
        "+1", "TRUE", "0x41", '"q"', "null", "default"
    ]
    assert frames[3] == [["1", "x"], [None, "1"], [".5e+3", "0"],
                         ["-1e-3", None]]


def test_vector_tier_bails_to_scanner_on_transforming_literals():
    """Literal classes the vectorized parse does not take (hex/bit,
    signed bools and literals, comments between rows, DEFAULT) leave the
    whole chunk to the scanner: identical frames with the vectorized
    parse on and off."""
    from tidb_lightning_spark.sources import sqldump_source as S

    cases = [
        "INSERT INTO t VALUES (0x41,'x'),(2,'y');",
        "INSERT INTO t VALUES (x'42','x'),(b'10','y');",
        "INSERT INTO t VALUES (1,'x'), -- c\n(2,'y');",
        "INSERT INTO t VALUES (1,'x'),(2,DEFAULT);",
        # scanner: -TRUE -> '-1', -FALSE -> '-0', -0x/-0b -> sign-folded
        # decode
        "INSERT INTO t VALUES (-TRUE,'x'),(2,'y');",
        "INSERT INTO t VALUES (-FALSE,'x'),(2,'y');",
        "INSERT INTO t VALUES (-0x41,'x'),(2,'y');",
        "INSERT INTO t VALUES (-0b11,'x'),(2,'y');",
    ]
    for text in cases:
        assert S._vector_rows_table(text, 2) is None, text
        got = _parse(S, text, 2)
        want = _parse(S, text, 2, vector=False)
        assert got.equals(want), text
    # a string splice and a signed NULL are scanner errors
    for text in (
        "INSERT INTO t VALUES (1,'a' 'b');",
        "INSERT INTO t VALUES (-NULL,'x');",
    ):
        assert S._vector_rows_table(text, 2) is None, text


def test_vector_tier_signed_null_raises_like_scanner():
    """'-NULL' must surface the scanner's 'sign before NULL' error, not
    be emitted as the string '-NULL' by the vector tier."""
    import pytest

    from tidb_lightning_spark.sources import sqldump_source as S

    text = "INSERT INTO t VALUES (-NULL,'x'),(2,'y');"
    for vec in (True, False):
        with pytest.raises(Exception, match="(?i)sign.*null"):
            _parse(S, text, 2, vector=vec)


@settings(max_examples=200, deadline=None)
@given(rows=rows_strategy)
def test_vector_tier_differential_property(rows):
    """Generated mydumper-style dumps through _row_batches with the
    vectorized parse on vs off: frames must be identical."""
    from tidb_lightning_spark.sources import sqldump_source as S

    text = render_insert("t", rows)
    n_cols = len(rows[0])
    if any(len(r) != n_cols for r in rows):
        return  # mixed arity raises in both paths; covered elsewhere
    got = _parse(S, text, n_cols)
    want = _parse(S, text, n_cols, vector=False)
    assert got.equals(want)


@settings(max_examples=100, deadline=None)
@given(rows=rows_strategy, n_stmts=st.integers(1, 4))
def test_vector_tier_multi_statement_noise_differential(rows, n_stmts):
    """Generated dumps with mysqldump noise BETWEEN statements through
    _row_batches, vector tier on vs off: identical frames (the vector
    tier must either skip the noise exactly like the scanner or bail —
    never mis-attribute rows across statement boundaries)."""
    from tidb_lightning_spark.sources import sqldump_source as S

    n_cols = len(rows[0])
    if any(len(r) != n_cols for r in rows):
        return
    noise = (
        "-- mysqldump noise\n/*!40101 SET NAMES utf8mb4 */;\n"
        "SET @saved_cs_client = @@character_set_client;\n"
    )
    text = noise + noise.join(
        render_insert("t", rows) for _ in range(n_stmts)
    )
    got = _parse(S, text, n_cols)
    want = _parse(S, text, n_cols, vector=False)
    assert got.equals(want)
    assert len(got) == n_stmts * len(rows)


def test_empty_tuple_and_default_keyword_take_defaults():
    """`VALUES ()` and the DEFAULT keyword produce DEFAULT_SENTINEL
    datums (expanded to column defaults by the transform), identically
    with the vector tier on and off (DEFAULT and `()` leave the chunk to
    the scanner), and the scanner's direct-to-Arrow
    buffering keeps NULLs, decoded literals and _row_seq alongside."""
    from tidb_lightning_spark.operators.transform import DEFAULT_SENTINEL
    from tidb_lightning_spark.sources import sqldump_source as S

    d = DEFAULT_SENTINEL
    cases = [
        (
            "INSERT INTO t VALUES (), (1, DEFAULT), (DEFAULT, 'x');\n"
            "INSERT INTO t () VALUES ();\n",
            [(d, d), ("1", d), (d, "x"), (d, d)],
        ),
        (
            "INSERT INTO t VALUES (), (1, DEFAULT), (DEFAULT, 'x'), "
            "(NULL, 0x41);\n",
            [(d, d), ("1", d), (d, "x"), (None, "A")],
        ),
    ]
    for text, want in cases:
        frames = {vec: _parse(S, text, 2, vector=vec) for vec in (True, False)}
        assert frames[True].equals(frames[False])
        got = frames[True]
        assert list(zip(got["_c0"], got["_c1"])) == want
        assert got["_row_seq"].tolist() == list(range(100, 100 + len(want)))
