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
    """r7 regex fast path: on a statement mix covering every literal
    class (clean + escaped strings, doubled quotes, signs, scientific,
    hex/bit literals that force the bail), the parse must be identical
    with the fast path enabled and disabled."""
    from tidb_lightning_spark.sources import sqldump_source as S

    text = (
        "INSERT INTO `t` VALUES (1, 'plain', NULL, 2.5),"
        "(-3, '+esc\\n\\t\\0\\Z\\\\x', TRUE, 1e+16),"
        "(+7, 'double''quote', FALSE, .5),"
        "(0x41424a, X'4243', b'1010', 0b11),"
        "(9, 'tail)par,en(', NULL, -1.5E-7);\n"
        "SET NAMES utf8;\n"
        "INSERT INTO `t` (`a`,`b`) VALUES (), ('x', 'y')\n"  # no semi
    )
    with_fast = [
        (st.table, st.columns, st.rows)
        for st in S.parse_insert_statements(text)
    ]
    orig = S._fast_rows
    S._fast_rows = lambda *a: None
    try:
        scanner_only = [
            (st.table, st.columns, st.rows)
            for st in S.parse_insert_statements(text)
        ]
    finally:
        S._fast_rows = orig
    assert with_fast == scanner_only
    # sanity: escapes and hex actually decoded
    rows = with_fast[0][2]
    assert rows[1][1] == "+esc\n\t\0\x1a\\x"
    assert rows[2][1] == "double'quote"
    assert rows[3][0] == "ABJ" and rows[3][1] == "BC"
    assert rows[3][2] == "10" and rows[3][3] == "3"


@settings(max_examples=200, deadline=None)
@given(rows=rows_strategy)
def test_fast_path_differential_property(rows):
    """r7 regex fast path vs char-at-a-time scanner on generated dumps:
    byte-identical statements (the 300-example roundtrip above already
    checks expected VALUES; this pins fast == slow even if both were
    wrong the same way on some future literal class)."""
    from tidb_lightning_spark.sources import sqldump_source as S

    text = render_insert("t", rows)
    with_fast = [
        (st_.table, st_.columns, st_.rows)
        for st_ in S.parse_insert_statements(text)
    ]
    orig = S._fast_rows
    S._fast_rows = lambda *a: None
    try:
        scanner_only = [
            (st_.table, st_.columns, st_.rows)
            for st_ in S.parse_insert_statements(text)
        ]
    finally:
        S._fast_rows = orig
    assert with_fast == scanner_only


def _parse(S, text, n_cols, vector=True):
    """_row_batches (the production parse face) as one pandas frame,
    rows numbered from 100. vector=False forces the scanner tiers by
    disabling tier 0, the way the fast-path tests disable _fast_rows."""
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
    path must (a) actually ENGAGE — the scanner tiers are never invoked
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


def test_vector_tier_bails_to_scanner_on_transforming_literals():
    """Literal classes the scanner TRANSFORMS (escapes, doubled quotes,
    bools, hex/bit, leading '+', exotic NULL casing, padded values) must
    fall back — identical frames with the vector tier on and off."""
    from tidb_lightning_spark.sources import sqldump_source as S

    cases = [
        "INSERT INTO t VALUES (1,'a\\nb'),(2,'c');",
        "INSERT INTO t VALUES (1,'d''q'),(2,'c');",
        "INSERT INTO t VALUES (TRUE,'x'),(FALSE,NULL);",
        "INSERT INTO t VALUES (0x41,'x'),(2,'y');",
        "INSERT INTO t VALUES (x'42','x'),(b'10','y');",
        "INSERT INTO t VALUES (+5,'x'),(6,'y');",
        "INSERT INTO t VALUES (null,'x'),(NuLL,'y');",
        "INSERT INTO t VALUES ( 1 , 'x' ),(2,'y');",
        "INSERT INTO t VALUES (1,'x'), -- c\n(2,'y');",
        # sign-prefixed transformed literals: _VFIELD's word alternative
        # accepts '[+-]?' so these reach the _VBAD_FIELD screen, which
        # must bail (scanner: -TRUE -> '-1', -FALSE -> '-0', -0x/-0b ->
        # sign-folded decode)
        "INSERT INTO t VALUES (-TRUE,'x'),(2,'y');",
        "INSERT INTO t VALUES (-FALSE,'x'),(2,'y');",
        "INSERT INTO t VALUES (-0x41,'x'),(2,'y');",
        "INSERT INTO t VALUES (-0b11,'x'),(2,'y');",
    ]
    for text in cases:
        got = _parse(S, text, 2)
        want = _parse(S, text, 2, vector=False)
        assert got.equals(want), text


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
    vector tier on vs off: frames must be identical whether the chunk
    takes the vectorized, regex-token, or scanner tier."""
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
    with the vector tier on and off (DEFAULT bails tier-0; `()` never
    matches the row grammar), and the scanner tier's direct-to-Arrow
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
