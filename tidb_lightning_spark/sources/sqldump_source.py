"""Mydumper SQL-dump source (reference: lightning/mydump/parser.go:319-521
+ ragel lexer parser_generated.go).

Files are `INSERT INTO tbl [(cols)] VALUES (...),(...);` dumps. No Spark
reader exists for this, so it's the one place we drop to Python on the
executors — but Spark-first in shape:

    driver: split files into statement-aligned byte ranges
      -> DataFrame of (path, start, end, chunk_base), 1 task per range
      -> mapInArrow(seek + read range + parse)     # Arrow RecordBatches

The pre-split mirrors the reference's chunk machinery (ReadChunks
parser.go:538-571, region splitting region.go:131-234): a multi-GiB dump
becomes many bounded tasks instead of one whole-file task. Executors
open local paths (local FS / fuse mounts) directly; scheme'd paths
(s3a://, hdfs://, ...) go through `read_sql_files_remote`, which reads
them with Spark's own Hadoop connectors.

Value domain mirrors parser.go:468-518: every scalar is emitted as a
STRING datum (typing happens at cast time, like the CSV path):
  NULL -> None, TRUE/FALSE -> '1'/'0', numbers -> literal text,
  strings -> unescaped text,
  X'..'/0x.. hex -> latin-1-decoded byte string (byte-preserving),
  b'..'/0b.. bit -> decimal integer string.

Row ids (SURVEY.md §2.D1) are owned here, nowhere else. Both readers
take the table's next free `rowid_base` and walk the files in a fixed
order (local: as given; remote: sorted by path), reserving
`text_size // (n_columns + 2) + 1` ids per file: a row of n columns
takes at least n + 2 bytes of text (the reference's bytes-per-row bound,
region.go:208-286). A chunk starting at byte offset `o` of a file with
base `b` numbers its rows from `b + o // (n_columns + 2)`. The absolute
number rides along as the `_row_seq` column, and the readers return the
next free base for whatever the caller reads after them.

Each chunk takes one of two parsers (`_row_batches`): the vectorized
`_vector_rows_table`, or `_Scanner`, the char-at-a-time reference parse
and the only one that reports errors.

The statement column list (if any) is read driver-side via `peek_columns`
— mydumper emits one form per file; the executor parser asserts
consistency and fails the task on mixed forms.
"""

from __future__ import annotations

import io as _io
import itertools as _itertools
import os
import re as _re
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SQLDumpError(ValueError):
    pass


_WS = set(" \t\r\n")
# MySQL backslash escapes inside string literals (parser.go:270-316); any
# other escaped character stands for itself
_UNESC = {"0": "\0", "n": "\n", "t": "\t", "r": "\r", "b": "\b",
          "Z": "\x1a"}


@dataclass
class _Scanner:
    text: str
    pos: int = 0

    def skip_ws_comments(self) -> None:
        t, n = self.text, len(self.text)
        while self.pos < n:
            ch = t[self.pos]
            if ch in _WS:
                self.pos += 1
            elif t.startswith("--", self.pos):
                nl = t.find("\n", self.pos)
                self.pos = n if nl < 0 else nl + 1
            elif ch == "#":
                nl = t.find("\n", self.pos)
                self.pos = n if nl < 0 else nl + 1
            elif t.startswith("/*", self.pos):
                end = t.find("*/", self.pos + 2)
                if end < 0:
                    raise SQLDumpError("unterminated block comment")
                self.pos = end + 2
            else:
                return

    def eof(self) -> bool:
        self.skip_ws_comments()
        return self.pos >= len(self.text)

    def peek(self) -> str:
        return self.text[self.pos] if self.pos < len(self.text) else ""

    def word(self) -> str:
        """Read an unquoted word (keyword or bare identifier)."""
        self.skip_ws_comments()
        start = self.pos
        t, n = self.text, len(self.text)
        while self.pos < n and (t[self.pos].isalnum() or t[self.pos] in "_$."):
            self.pos += 1
        return t[start : self.pos]

    def ident(self) -> str:
        self.skip_ws_comments()
        # backtick-quoted (MySQL) or double-quoted (ANSI_QUOTES — the
        # reference accepts INSERT INTO "foobar",
        # mydump/parser_test.go TestVariousSyntax) identifiers; the
        # quote char doubles to escape itself
        qc = self.peek()
        if qc in ('`', '"'):
            self.pos += 1
            out = []
            t, n = self.text, len(self.text)
            while self.pos < n:
                if t[self.pos] == qc:
                    if self.pos + 1 < n and t[self.pos + 1] == qc:
                        out.append(qc)
                        self.pos += 2
                        continue
                    self.pos += 1
                    return "".join(out)
                out.append(t[self.pos])
                self.pos += 1
            raise SQLDumpError("unterminated quoted identifier")
        w = self.word()
        if not w:
            raise SQLDumpError(f"expected identifier at offset {self.pos}")
        return w

    def expect(self, ch: str) -> None:
        self.skip_ws_comments()
        if self.peek() != ch:
            raise SQLDumpError(
                f"expected {ch!r} at offset {self.pos}: "
                f"{self.text[self.pos:self.pos+30]!r}"
            )
        self.pos += 1

    def try_char(self, ch: str) -> bool:
        self.skip_ws_comments()
        if self.peek() == ch:
            self.pos += 1
            return True
        return False

    def quoted_string(self, quote: str) -> str:
        # assumes opening quote consumed; MySQL backslash + doubled-quote
        # escapes (parser.go:270-316)
        out = []
        t, n = self.text, len(self.text)
        while self.pos < n:
            ch = t[self.pos]
            if ch == "\\" and self.pos + 1 < n:
                nxt = t[self.pos + 1]
                out.append(_UNESC.get(nxt, nxt))
                self.pos += 2
            elif ch == quote:
                if self.pos + 1 < n and t[self.pos + 1] == quote:
                    out.append(quote)
                    self.pos += 2
                else:
                    self.pos += 1
                    return "".join(out)
            else:
                out.append(ch)
                self.pos += 1
        raise SQLDumpError("unterminated string literal")

    def value(self) -> str | None:
        """One scalar literal -> canonical string datum (or None for NULL)."""
        self.skip_ws_comments()
        ch = self.peek()
        if ch in ("'", '"'):
            self.pos += 1
            return self.quoted_string(ch)
        if ch == "`":
            return self.ident()  # unusual but tolerated
        w = self.word()
        if not w:
            raise SQLDumpError(f"expected value at offset {self.pos}")
        u = w.upper()
        if u == "NULL":
            return None
        if u == "TRUE":
            return "1"
        if u == "FALSE":
            return "0"
        if u == "DEFAULT":
            # VALUES (1, DEFAULT): take the column's default
            # (tests/default-columns semantics; expanded per column by
            # operators.transform.transform_table)
            from tidb_lightning_spark.operators.transform import (
                DEFAULT_SENTINEL,
            )

            return DEFAULT_SENTINEL
        if u == "CONVERT" and (
            self.skip_ws_comments() or self.peek() == "("
        ):
            # CONVERT(<literal> USING <charset>) — mydumper emits this
            # for JSON/charset-tagged values (reference golden
            # tests/various_types vt.json; TiDB's parser accepts the
            # expression, parser.y convert rule). The inner literal is
            # already decoded text here, so USING is an identity tag.
            self.pos += 1
            inner = self.value()
            using = self.word()
            if using.upper() != "USING":
                raise SQLDumpError(
                    f"expected USING in CONVERT at offset {self.pos}"
                )
            self.word()  # charset name
            self.skip_ws_comments()
            if self.peek() != ")":
                raise SQLDumpError(
                    f"expected ')' closing CONVERT at offset {self.pos}"
                )
            self.pos += 1
            return inner
        if u in ("X", "B") and self.peek() == "'":
            self.pos += 1
            body = self.quoted_string("'")
            return _hex_to_str(body) if u == "X" else _bits_to_str(body)
        if u.startswith("0X"):
            return _hex_to_str(w[2:])
        if u.startswith("0B") and set(w[2:]) <= {"0", "1"}:
            return _bits_to_str(w[2:])
        if (
            (u[-1:] == "E" and u[:-1].replace(".", "", 1).isdigit())
            and self.peek() in ("+", "-")
        ):
            # scientific notation with a signed exponent ('1e+16',
            # '1.5E-07'): word() stops at the sign — MySQL emits these for
            # DOUBLE columns, and the reference's lexer accepts them
            # (mydump/parser.go number token includes [eE][+-]?digits)
            sign = self.text[self.pos]
            self.pos += 1
            exp = self.word()
            if not exp.isdigit():
                raise SQLDumpError(
                    f"bad exponent after {w!r} at offset {self.pos}"
                )
            return w + sign + exp
        return w

    def insert_header(self) -> tuple[str, list[str] | None, str]:
        """The rest of an INSERT/REPLACE header after its first word,
        through the VALUES keyword: (table, column list or None, the
        upper-cased keyword). INTO is OPTIONAL in MySQL (`INSERT
        [IGNORE] [INTO] tbl`; reference golden tests/exotic_filenames
        dumps omit it); `db`.`tbl` keeps the table part."""
        nxt = self.word()
        if nxt.upper() == "IGNORE":
            nxt = self.word()
        if nxt.upper() == "INTO" or not nxt:
            table = self.ident()
        else:
            table = nxt  # unquoted table name, INTO omitted
        if self.try_char("."):
            table = self.ident()
        elif "." in table:
            table = table.rsplit(".", 1)[1]  # unquoted db.tbl
        self.skip_ws_comments()
        columns: list[str] | None = None
        if self.peek() == "(":
            self.expect("(")
            columns = []
            if not self.try_char(")"):
                while True:
                    columns.append(self.ident())
                    if self.try_char(","):
                        continue
                    self.expect(")")
                    break
        kw = self.word().upper()
        if kw not in ("VALUES", "VALUE", "SET"):
            raise SQLDumpError(f"expected VALUES, got {kw!r}")
        return table, columns, kw

    def row(self) -> list[str | None]:
        """One `(v, ...)` tuple; `()` is the empty (all-defaults) row."""
        self.expect("(")
        row: list[str | None] = []
        if self.try_char(")"):
            return row
        while True:
            self.skip_ws_comments()
            if self.peek() in ("+", "-"):
                row.append(self.signed_number())
            else:
                row.append(self.value())
            if self.try_char(","):
                continue
            self.expect(")")
            return row

    def skip_statement(self) -> bool:
        """Skip a non-INSERT statement through its ';'; False when the
        text ends before one."""
        end = self.text.find(";", self.pos)
        self.pos = len(self.text) if end < 0 else end + 1
        return end >= 0

    def signed_number(self) -> str:
        self.skip_ws_comments()
        sign = ""
        if self.peek() in ("+", "-"):
            sign = self.text[self.pos]
            self.pos += 1
        v = self.value()
        if v is None:
            raise SQLDumpError("sign before NULL")
        return ("-" + v) if sign == "-" else v


def _hex_to_str(body: str) -> str:
    body = body.strip()
    if len(body) % 2:
        body = "0" + body
    return bytes.fromhex(body).decode("latin-1")


def _bits_to_str(body: str) -> str:
    # b'' is the EMPTY bit string (reference: empty BinaryLiteral,
    # parser_test.go TestVariousSyntax) — '' casts to 0 for numeric
    # targets and to empty bytes for binary ones, exactly like x''
    return str(int(body, 2)) if body else ""


@dataclass
class Statement:
    table: str
    columns: list[str] | None
    rows: list[list[str | None]]


def parse_insert_statements(text: str) -> Iterator[Statement]:
    """Yield INSERT/REPLACE statements (parser.go:346-412 dry-run grammar)."""
    sc = _Scanner(text)
    while not sc.eof():
        w = sc.word().upper()
        if w in ("INSERT", "REPLACE"):
            table, columns, kw = sc.insert_header()
            if kw == "SET":
                raise SQLDumpError("INSERT ... SET form not supported")
            rows = [sc.row()]
            while sc.try_char(","):
                rows.append(sc.row())
            sc.try_char(";")
            yield Statement(table, columns, rows)
        else:
            # non-INSERT statement (SET, comments already skipped)
            sc.skip_statement()


class _Truncated(Exception):
    """Peek window ended mid-statement; retry with a bigger read."""


def _peek_insert_header(text: str, complete: bool) -> list[str] | None:
    """Column list of the first INSERT, parsing ONLY up to the VALUES
    keyword — never the row data, so a multi-MiB first statement (mydumper
    statement-size is configurable) costs a few KiB of parsing, not a full
    statement parse. `complete` = text covers the whole file; when False,
    any parse failure means the window clipped the header mid-token."""
    sc = _Scanner(text)
    try:
        while not sc.eof():
            w = sc.word().upper()
            if w in ("INSERT", "REPLACE"):
                return sc.insert_header()[1]
            # non-INSERT statement: skip to its terminator
            if not sc.skip_statement():
                if complete:
                    return None
                raise _Truncated()
        if not complete:
            # the window may end inside a comment/whitespace run that
            # continues into an INSERT beyond it
            raise _Truncated()
        return None
    except SQLDumpError:
        if complete:
            raise
        raise _Truncated() from None


def _peek(path: str, encoding: str, spark, parse):
    """Driver-side head read: `parse(text, complete)` over a window that
    starts at 64 KiB and grows 4x for as long as it raises _Truncated —
    immune to first statements longer than the window. Compressed dumps
    are read through the shared decompressing opener; scheme'd
    (s3a://, viewfs://...) paths through the Hadoop FS stream (pass
    `spark`)."""
    from tidb_lightning_spark.sources.csv_source import _decompress_open

    size = 1 << 16
    while True:
        with _decompress_open(path, spark=spark) as f:
            head = f.read(size)
        try:
            return parse(_peek_decode(head, encoding), len(head) < size)
        except _Truncated:
            size *= 4


def peek_columns(
    path: str, encoding: str = "utf-8", spark=None
) -> list[str] | None:
    """Driver-side: column list of the first INSERT (None = positional),
    parsing only its header (`_peek`)."""
    return _peek(path, encoding, spark, _peek_insert_header)


def _peek_decode(head: bytes, encoding: str) -> str:
    """Best-effort decode for driver-side peeks: 'auto' tries utf-8 then
    gb18030 (reference reader.go:43-55), 'binary' is the latin-1
    passthrough; strictness for the actual data is enforced by the scan
    or transcode step, not the peek."""
    low = (encoding or "utf-8").lower()
    if low == "binary":
        return head.decode("iso-8859-1")
    if low == "auto":
        for cs in ("utf-8", "gb18030"):
            try:
                return head.decode(cs)
            except UnicodeDecodeError as exc:
                if exc.start >= len(head) - 4:
                    # a multibyte char cut by the window bound, not an
                    # invalid file — decode the clean prefix
                    return head[: exc.start].decode(cs)
        return head.decode("utf-8", errors="replace")
    return head.decode(low, errors="replace")


def _first_arity(text: str, complete: bool) -> int | None:
    """Arity of the first non-empty row, parsing only up to it."""
    sc = _Scanner(text)
    try:
        while not sc.eof():
            if sc.word().upper() not in ("INSERT", "REPLACE"):
                sc.skip_statement()
                continue
            sc.insert_header()
            while True:
                row = sc.row()
                if row:  # skip () all-defaults rows: arity 0 says
                    return len(row)  # nothing about the table
                if not sc.try_char(","):
                    break
            sc.try_char(";")
    except SQLDumpError:
        pass
    if complete:
        return None
    raise _Truncated()


def peek_arity(
    path: str, encoding: str = "utf-8", spark=None
) -> int | None:
    """Driver-side: arity of the first INSERT's first row (None when no
    row parses) — the no-schema fallback when a dump has no column list
    (the reference reads names from the target database there,
    restore.go no-schema path; without one we synthesize c0..cN).
    Same growing window as peek_columns (`_peek`)."""
    return _peek(path, encoding, spark, _first_arity)


# chunk target for splitting large dump files (reference max-region-size,
# region.go:131-234: 256 MiB regions; we split finer because the Python
# statement parser is the bottleneck, not IO). Departure note: the
# reference does NOT split .sql files mid-file at all (SplitLargeFile is
# strict-CSV-only) — one file = one region there; splitting here is what
# lets a monolithic multi-GiB dump use the whole cluster.
SQL_CHUNK_BYTES = 64 * 1024 * 1024
# adaptive per-file target: aim for ~SQL_CHUNKS_PER_FILE chunks so a
# mid-size file still fans out, floored so driver-side boundary scans
# stay negligible (one ~4 KiB seek+read per boundary) and capped at
# SQL_CHUNK_BYTES. Derived from FILE size only — deterministic across
# cluster sizes and resumes (row-id bases come from chunk byte offsets).
SQL_CHUNK_MIN_BYTES = 8 * 1024 * 1024
SQL_CHUNKS_PER_FILE = 32


def adaptive_chunk_bytes(file_size: int) -> int:
    return min(
        SQL_CHUNK_BYTES,
        max(SQL_CHUNK_MIN_BYTES, file_size // SQL_CHUNKS_PER_FILE),
    )

_COMPRESSED_SUFFIXES = (".gz", ".xz", ".bz2", ".zst", ".zstd", ".lz4")


def _is_compressed(path: str) -> bool:
    return path.endswith(_COMPRESSED_SUFFIXES)


def decompressed_size(path: str) -> int:
    """Effective text size of a dump file: plain files by stat, compressed
    files by one driver-side streaming decompression pass (cached by
    path/size/mtime). Row-id reservation MUST use this, not the on-disk
    size: a row of n columns occupies >= n+2 bytes of *decompressed* text
    (the reference's bytes-per-row bound, region.go:208-225), so
    rows <= decompressed_size // (n+2) holds — the same bound on a
    compressed size does NOT (a 10x-compressed dump overruns the next
    file's base -> duplicate row ids)."""
    if not _is_compressed(path):
        return os.path.getsize(path)
    import hashlib

    from tidb_lightning_spark.sources.csv_source import user_cache_dir

    st = os.stat(path)
    cache_dir = user_cache_dir("tls_dsize")
    key = hashlib.md5(
        f"{os.path.abspath(path)}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    marker = os.path.join(cache_dir, key)
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read())
    from tidb_lightning_spark.sources.csv_source import _decompress_open

    n = 0
    with _decompress_open(path) as f:
        while True:
            b = f.read(8 << 20)
            if not b:
                break
            n += len(b)
    tmp = marker + ".part"
    with open(tmp, "w") as f:
        f.write(str(n))
    os.replace(tmp, marker)
    return n


def split_sql_file(path: str, chunk_bytes: int = SQL_CHUNK_BYTES) -> list[tuple[int, int]]:
    """Byte ranges of `path` aligned to statement starts (reference
    ReadChunks/SplitLargeFile semantics, parser.go:538-571,
    region.go:236-286, applied to SQL dumps).

    Mydumper backslash-escapes newlines inside string literals, so a raw
    newline followed by INSERT/REPLACE is always a true statement start —
    the driver seeks to each chunk_bytes mark and scans forward to the
    next such line. A single statement larger than chunk_bytes simply
    yields a larger range (never a split statement)."""
    size = os.path.getsize(path)
    if size <= chunk_bytes or _is_compressed(path):
        # compressed streams are not byte-range seekable -> whole-file task
        return [(0, size)]
    bounds = [0]
    with open(path, "rb") as f:
        target = chunk_bytes
        while target < size:
            f.seek(target)
            f.readline()  # skip the partial line at the seek point
            start = None
            while True:
                pos = f.tell()
                line = f.readline()
                if not line:
                    break
                head = line.lstrip()[:8].upper()
                if head.startswith(b"INSERT") or head.startswith(b"REPLACE"):
                    start = pos
                    break
            if start is None or start >= size:
                break
            if start > bounds[-1]:
                bounds.append(start)
            target = start + chunk_bytes
    bounds.append(size)
    return list(zip(bounds, bounds[1:]))


def _out_schema(n_columns: int) -> T.StructType:
    return T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(n_columns)]
        + [T.StructField("_row_seq", T.LongType(), False)]
    )


def read_sql_files(
    spark: SparkSession,
    paths: list[str],
    n_columns: int,
    encoding: str = "utf-8",
    chunk_bytes: int | None = None,  # None -> adaptive_chunk_bytes
    rowid_base: int = 0,
) -> tuple[DataFrame, int]:
    """paths -> (DataFrame of `_c0.._cN` strings + `_row_seq`, next free
    row-id base).

    Large files are pre-split driver-side into statement-aligned byte
    ranges (one task per range — a multi-GiB dump is no longer one task
    holding the whole file in memory); each task reads ONLY its range.
    Files reserve their row-id ranges in the order given, each from its
    DECOMPRESSED size (`decompressed_size`): a gz dump's rows can exceed
    compressed_size // divisor, which would overrun the next file's
    range. `_row_seq` is the file's base plus the chunk's offset //
    (n_columns + 2) plus the in-chunk row index, so it is the same
    however the file was split.

    All statements in a group must agree on column-list arity with
    `n_columns` (the caller derives it from peek_columns / table schema).
    """
    divisor = n_columns + 2
    ranges: list[tuple[str, int, int, int]] = []
    for p in paths:
        ap = os.path.abspath(p)
        cb = chunk_bytes
        if cb is None:
            try:
                cb = adaptive_chunk_bytes(os.path.getsize(ap))
            except OSError:
                cb = SQL_CHUNK_BYTES
        for start, end in split_sql_file(ap, cb):
            ranges.append((ap, start, end, rowid_base + start // divisor))
        rowid_base += decompressed_size(ap) // divisor + 1

    from tidb_lightning_spark._shipping import ensure_shipped

    ensure_shipped(spark)
    # one task per range, in file and offset order, with no shuffle: a
    # dump split by key range keeps its ranges in separate partitions,
    # which lets the files sink skip its exchange
    rdf = spark.createDataFrame(
        spark.sparkContext.parallelize(ranges, max(len(ranges), 1)),
        schema="path string, start long, end long, chunk_base long",
    )

    def parse_batches(batches):
        for rb in batches:
            for path, start, end, cbase in zip(
                rb.column("path").to_pylist(),
                rb.column("start").to_pylist(),
                rb.column("end").to_pylist(),
                rb.column("chunk_base").to_pylist(),
            ):
                if _is_compressed(path):
                    from tidb_lightning_spark.sources.csv_source import (
                        _decompress_open,
                    )

                    with _decompress_open(path) as f:
                        data = f.read()
                else:
                    with open(path, "rb") as f:
                        f.seek(start)
                        data = f.read(end - start)
                content = data.decode(encoding, errors="replace")
                yield from _row_batches(content, n_columns, cbase, path)

    # mapInArrow, not mapInPandas: the vectorized parse already produces
    # an Arrow table, and the pandas hop converted every string cell to a
    # Python object on the way OUT of the parser only for Spark to
    # re-encode it to Arrow on the way back IN — two full copies of the
    # parsed text per chunk for nothing (guide §4: shrink the Python
    # boundary). The scanner fallback still builds rows in Python; it
    # converts once, straight to Arrow.
    return (
        rdf.mapInArrow(parse_batches, schema=_out_schema(n_columns)),
        rowid_base,
    )


# --------------------------------------------------------------------------
# Vectorized VALUES parse: ONE anchored regex match per ROW, then
# pyarrow's C++ CSV reader for fields. It takes escaped strings, NULL,
# numbers and (in "loose" rows) padding, any-case NULL/TRUE/FALSE and a
# leading '+'. Anything else (hex/bit, signed bools, DEFAULT, comments
# between rows, ANSI strings, splices) leaves the WHOLE chunk to
# _Scanner: nothing is yielded until the full chunk parses AND
# validates, so falling back never duplicates rows.

# gap between statements: whitespace and terminated comments, exactly the
# set _Scanner.skip_ws_comments consumes (an UNTERMINATED /* stays
# unconsumed -> the caller bails so the scanner can raise)
_VGAP = _re.compile(
    r"(?:[ \t\r\n]+|--[^\n]*(?:\n|$)|#[^\n]*(?:\n|$)|/\*.*?\*/)*", _re.S
)
# INSERT/REPLACE [IGNORE] INTO header through VALUES, with an optional
# column list of plain or backquoted names (mysqldump --complete-insert);
# any fancier form (doubled backquotes, ANSI quotes, comments) fails to
# match and the INSERT-word check below turns that into a bail
_VID = r"(?:`[^`]*+`|[A-Za-z0-9_$.]++)"
_VHDR = _re.compile(
    r"(?:INSERT|REPLACE)(?:[ \t\r\n]+IGNORE)?[ \t\r\n]+INTO[ \t\r\n]+"
    + _VID + r"(?:[ \t\r\n]*\.[ \t\r\n]*" + _VID + r")?"
    r"(?:[ \t\r\n]*\([ \t\r\n]*(?:" + _VID
    + r"(?:[ \t\r\n]*,[ \t\r\n]*" + _VID + r")*)?[ \t\r\n]*\))?"
    r"[ \t\r\n]*VALUES?[ \t\r\n]*",
    _re.I,
)
# Field alternatives. Possessive quantifiers: the alternatives' first
# chars are disjoint and each token ends at a delimiter, so backtracking
# inside a field can never change the outcome. A number is what
# _Scanner.value() passes through verbatim: digits with at most one dot
# and an optional (signed) exponent.
_VSTR = r"'(?:[^'\\]++|\\.|'')*+'"
_VNUM = r"(?:[0-9]++\.?[0-9]*+|\.[0-9]++)(?:[eE][+-]?[0-9]++)?"
# strict row: '(' field (',' field)* ')' with no whitespace, where every
# unquoted field (exact-case NULL, -?number) reaches Arrow verbatim
_VFIELD = r"(?:" + _VSTR + r"|NULL|-?" + _VNUM + r")"
_VROW = _re.compile(r"\(" + _VFIELD + r"(?:," + _VFIELD + r")*+\)", _re.S)
# loose row, tried when the strict one fails: whitespace around fields,
# NULL/TRUE/FALSE in any case, a '+' before a number. _VTOK rewrites it to
# the strict form before the join
_VLFIELD = r"(?:" + _VSTR + r"|(?i:NULL|TRUE|FALSE)|[+-]?" + _VNUM + r")"
_VLOOSE = _re.compile(
    r"\([ \t\r\n]*" + _VLFIELD + r"(?:[ \t\r\n]*,[ \t\r\n]*" + _VLFIELD
    + r")*+[ \t\r\n]*\)",
    _re.S,
)
# a loose row's tokens, whitespace skipped; a number token is matched
# whole, so an exponent's sign is never taken for a leading '+'
# ('+.5e+3' -> '.5e+3')
_VTOK = _re.compile(
    r"[ \t\r\n]*\+?(" + _VSTR + "|" + _VNUM + r"|[A-Za-z]+|[,-])", _re.S
)
# every casing of the bare words a loose row may hold
_VWORDS = {
    "".join(cs): v
    for w, v in (("NULL", "NULL"), ("TRUE", "1"), ("FALSE", "0"))
    for cs in _itertools.product(*zip(w, w.lower()))
}
_VWS = _re.compile(r"[ \t\r\n]*")
_VWORD = _re.compile(r"[A-Za-z0-9_$.]+")
# backslash escapes in the joined rows (a validated row holds '\' only
# inside a string); '\'' becomes a doubled quote for the CSV reader
_VESC = _re.compile(r"\\(.)", _re.S)
_VUNESC = {**_UNESC, "'": "''"}


def _vector_rows_table(content: str, n_columns: int):
    """Whole-chunk parse -> pyarrow Table of n_columns string columns,
    or None to leave the chunk to the scanner.

    Peak task memory is ~2.5x the chunk text (joined blob, its UTF-8
    bytes and the Arrow table coexist) — <=160 MB at the 64 MiB chunk
    cap, a deliberate trade: yielding before the whole chunk validates
    would break the all-or-nothing contract (a mid-chunk bail after a
    yield would re-emit rows through the scanner)."""
    bodies: list[str] = []
    pos, n = 0, len(content)
    while True:
        pos = _VGAP.match(content, pos).end()
        if pos >= n:
            break
        if content[pos] == ";":  # e.g. after a /*! directive */ comment
            pos += 1
            continue
        h = _VHDR.match(content, pos)
        if h is None:
            if content.startswith("/*", pos):
                return None  # unterminated comment: scanner raises
            w = _VWORD.match(content, pos)
            if w is None or w.group().upper() in ("INSERT", "REPLACE"):
                # a row/paren/quote where a statement should start, or an
                # INSERT form the strict header can't prove — bail
                return None
            # non-INSERT word statement (SET ...): skip to terminator,
            # exactly like parse_insert_statements' else-branch
            semi = content.find(";", pos)
            pos = n if semi < 0 else semi + 1
            continue
        pos = h.end()
        while True:  # VALUES tuples
            r = _VROW.match(content, pos)
            if r is not None:
                bodies.append(content[r.start() + 1 : r.end() - 1])
            else:
                r = _VLOOSE.match(content, pos)
                if r is None:
                    return None
                toks = _VTOK.findall(content, r.start() + 1, r.end() - 1)
                bodies.append("".join([_VWORDS.get(t, t) for t in toks]))
            pos = _VWS.match(content, r.end()).end()
            if pos < n and content[pos] == ",":
                pos = _VWS.match(content, pos + 1).end()
                continue
            if pos < n and content[pos] == ";":
                pos += 1
            # no ';': statement ends here only at EOF or before a new
            # statement — a comment splicing two row groups would hide
            # rows from the find-';' skip above, so let the scanner own
            # anything that isn't a clean boundary (the outer loop's
            # checks do exactly that)
            break
    n_rows = len(bodies)
    if not n_rows:
        return None
    import pyarrow as _pa
    import pyarrow.csv as _pcsv

    blob = "\n".join(bodies)
    del bodies
    if "\\" in blob:
        blob = _VESC.sub(lambda m: _VUNESC.get(m[1], m[1]), blob)
    blob = blob.encode("utf-8")
    names = [f"_c{i}" for i in range(n_columns)]
    try:
        tbl = _pcsv.read_csv(
            _io.BytesIO(blob),
            read_options=_pcsv.ReadOptions(column_names=names),
            parse_options=_pcsv.ParseOptions(
                delimiter=",",
                quote_char="'",
                double_quote=True,
                escape_char=False,
                newlines_in_values=True,
            ),
            convert_options=_pcsv.ConvertOptions(
                column_types={c: _pa.string() for c in names},
                null_values=["NULL"],
                strings_can_be_null=True,
                quoted_strings_can_be_null=False,
            ),
        )
    except _pa.lib.ArrowInvalid:
        return None  # arity/structure mismatch: scanner owns the error
    if tbl.num_rows != n_rows:
        return None
    return tbl


def _row_batches(content: str, n_columns: int, base: int, src: str):
    """Parse one chunk into pyarrow RecordBatches of `_c0.._cN` +
    `_row_seq` (numbered from `base`). The vectorized parse's Arrow
    table is sliced and shipped AS IS — zero pandas materialization.
    The scanner fallback yields in bounded slices instead of one
    chunk-sized batch: the Arrow stream ships each slice to the JVM
    while Python keeps parsing, so the cast/persist work OVERLAPS the
    parse — and peak memory is a slice, not the whole chunk. `src` only
    names the chunk in errors."""
    import numpy as np
    import pyarrow as pa

    vec = _vector_rows_table(content, n_columns)
    if vec is not None:
        n = vec.num_rows
        tbl = vec.append_column(
            "_row_seq", pa.array(np.arange(base, base + n, dtype="int64"))
        )
        yield from tbl.to_batches(max_chunksize=16384)
        return

    from tidb_lightning_spark.operators.transform import DEFAULT_SENTINEL

    schema = pa.schema(
        [(f"_c{i}", pa.string()) for i in range(n_columns)]
        + [("_row_seq", pa.int64())]
    )

    def flush() -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(zip(*buf), schema)],
            schema=schema,
        )

    seq = base
    buf: list[list] = []
    for stmt in parse_insert_statements(content):
        for row in stmt.rows:
            if len(row) != n_columns:
                if len(row) == 0:
                    # MySQL: `VALUES ()` is legal at ANY arity and means
                    # every column takes its DEFAULT (reference golden
                    # tests/default-columns)
                    row = [DEFAULT_SENTINEL] * n_columns
                else:
                    raise SQLDumpError(
                        f"row arity {len(row)} != expected {n_columns} "
                        f"in {src}"
                    )
            buf.append(row + [seq])
            seq += 1
        if len(buf) >= 16384:
            yield flush()
            buf = []
    if buf:
        yield flush()


# binaryFile ships a file's bytes as ONE Arrow cell; Spark caps a single
# binary value a little under 2 GiB, and executor Python holds the raw
# cell plus its decoded text at once (a legacy-charset decode can be
# 2-4x the byte size), so remote whole-file tasks are bounded to the
# same 256 MiB the "mydumper -F 256" remedy already prescribes — a
# worst-case task then needs ~1.25 GiB of Python heap, not ~5 GiB.
# Larger files take the ranged reader (utf-8) or are spooled to local
# storage by the pipeline (other charsets).
REMOTE_SQL_MAX_BYTES = 256 << 20


def _read_sql_file_ranged(
    spark: SparkSession, path: str, n_columns: int, length: int, base: int
) -> DataFrame:
    """One OVERSIZED remote dump file -> rows, with statement-aligned
    byte-range splitting done by the JVM connector itself: Hadoop
    TextInputFormat with a `;\\n` record delimiter. Mydumper
    backslash-escapes raw newlines inside string literals, so `;\\n`
    occurs only at true statement ends — each record is one complete
    statement's text, the LineRecordReader reads past its split boundary
    to finish its last record and skips the partial first one (the same
    contract the local splitter implements by hand, region.go analog),
    and the record KEY is the statement's byte offset. Row ids: the
    file's `base` plus offset // (n_columns + 2) starts each statement —
    statements never overlap byte ranges, so their ranges never collide
    (the identical bytes-per-row bound as the local chunk splitter,
    region.go:208-225).

    This retires the r9 whole-file cap for utf-8 dumps: no single Arrow
    cell ever holds the file; peak task memory is one statement
    (mydumper --statement-size, ~1 MiB) times the Arrow slice, and a
    multi-GiB remote dump fans out across the cluster at
    `adaptive_chunk_bytes` granularity."""
    chunk = adaptive_chunk_bytes(length)
    conf = {
        "textinputformat.record.delimiter": ";\n",
        "mapreduce.input.fileinputformat.split.maxsize": str(chunk),
    }
    rdd = spark.sparkContext.newAPIHadoopFile(
        path,
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf=conf,
    )
    sdf = spark.createDataFrame(rdd, schema="_off long, _stmt string")
    divisor = n_columns + 2

    def parse_batches(batches):
        for rb in batches:
            for off, stmt in zip(
                rb.column("_off").to_pylist(), rb.column("_stmt").to_pylist()
            ):
                # the delimiter strips the terminating ';' — the scanner
                # treats it as optional at EOF, so no re-append needed
                yield from _row_batches(
                    stmt, n_columns, base + off // divisor, path
                )

    # mapInArrow for the same reason as read_sql_files: the vectorized
    # parse's output is already Arrow; the pandas hop double-copied every
    # string cell
    return sdf.mapInArrow(parse_batches, schema=_out_schema(n_columns))


def read_sql_files_remote(
    spark: SparkSession,
    paths: list[str],
    n_columns: int,
    encoding: str = "utf-8",
    rowid_base: int = 0,
) -> tuple[DataFrame, int]:
    """Scheme'd (s3a://, viewfs://, hdfs://...) SQL dumps -> the same
    (`_c0.._cN` + `_row_seq` frame, next free row-id base) as
    `read_sql_files`. Files reserve their row-id ranges sorted by their
    observed path, each from its observed byte length (plain files only:
    the pipeline spools compressed remote dumps to local storage first,
    so the length IS the text size the divisor bound needs).

    Files up to REMOTE_SQL_MAX_BYTES come through Spark's `binaryFile`
    source — the SAME Hadoop connector the CSV/parquet executor scans use
    (A1 external storage; reference lightning.go:273-279) — one whole
    file per task, with the statement parse running on the Arrow-shipped
    content in executor Python; this is the only path that supports
    in-executor legacy-charset decode. Files ABOVE the cap (r9 verdict
    item 6: previously a hard fail) are read via `_read_sql_file_ranged`
    — JVM-side statement-aligned range splitting, utf-8 dumps only
    (Hadoop Text decodes utf-8; an oversized legacy-charset dump still
    fails fast with the remedy). Parity: the reference streams any file
    size through its storage abstraction (mydump/reader.go:140-179) but
    also never splits .sql mid-file (region.go:131-234) — the ranged
    path is strictly more parallel than both."""
    bdf = spark.read.format("binaryFile").load(paths)
    # column-pruned to file status only — no content read for the guard
    meta = sorted({tuple(r) for r in bdf.select("path", "length").collect()})
    big = [(p, ln) for p, ln in meta if ln > REMOTE_SQL_MAX_BYTES]
    if big and encoding.lower().replace("-", "") not in ("utf8", "ascii"):
        raise SQLDumpError(
            f"remote SQL dump file(s) in charset {encoding!r} exceed "
            f"{REMOTE_SQL_MAX_BYTES >> 20} MiB and would not fit a "
            f"whole-file task: {big[:3]}. The range-split remote reader "
            "is utf-8-only (Hadoop Text decoding); split the dump into "
            "smaller files (mydumper -F 256), transcode it, or copy it "
            "to local/shared storage, where the statement-aligned range "
            "splitter handles any size and charset."
        )
    bases: dict[str, int] = {}
    for p, ln in meta:
        bases[p] = rowid_base
        rowid_base += ln // (n_columns + 2) + 1

    from tidb_lightning_spark._shipping import ensure_shipped

    ensure_shipped(spark)

    def parse_batches(batches):
        for rb in batches:
            paths_col = rb.column("path")
            content_col = rb.column("content")
            for i in range(rb.num_rows):
                # decode straight off the Arrow binary buffer view —
                # same zero-intermediate-copy property the old
                # str(buffer, enc) form had on the pandas path
                text = str(
                    content_col[i].as_buffer(), encoding, "replace"
                )
                path = paths_col[i].as_py()
                yield from _row_batches(text, n_columns, bases[path], path)

    parts: list[DataFrame] = []
    if len(big) < len(meta):
        small = bdf
        if big:
            # binaryFile pushes length predicates down to the file
            # listing, so oversized files are pruned before any read
            small = bdf.filter(F.col("length") <= REMOTE_SQL_MAX_BYTES)
        parts.append(
            small.select("path", "content").mapInArrow(
                parse_batches, schema=_out_schema(n_columns)
            )
        )
    for p, ln in big:
        parts.append(_read_sql_file_ranged(spark, p, n_columns, ln, bases[p]))
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out, rowid_base
