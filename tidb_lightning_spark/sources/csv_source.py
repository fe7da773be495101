"""MySQL-flavored CSV source (reference: lightning/mydump/csv_parser.go).

The reference hand-rolls a byte-level CSV state machine; Spark's CSV reader
covers that dialect surface natively (SURVEY.md §2.A7), so this module is
option mapping, not parsing — one mapping (`csv_reader`) for batch and
streaming restore alike:

  CSVConfig (config.go:382-390)      spark.read.csv option
  ---------------------------------  ---------------------------------
  separator (multi-char ok)          sep
  delimiter                          quote ('' -> NUL: quoting off)
  backslash-escape                   escape='\\' (else escape=quote)
  null sentinel (default '\\N')      field SQL (csv_parser.go:108-117:
                                     only the null text is NULL)
  header                             header handled ourselves (below)
  trim-last-separator                synthetic trailing column dropped
  character-set                      encoding (or a driver transcode)

Every column is read as STRING — exactly the reference's model (CSV parser
emits only string/NULL datums, csv_parser.go:539-554); typing happens in
the cast operator against the table schema, not in the reader.

Headers are read driver-side (first line, one small read per file — the
analog of ReadColumns) because the *names* drive column permutation; files
sharing a header are batched into one multi-path spark.read so a
10k-file table stays a handful of scans.
"""

from __future__ import annotations

import codecs
import dataclasses
import io
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tidb_lightning_spark.operators.cast import STRING_FAMILY_BASES
from tidb_lightning_spark.schema.ddl import TableInfo
from tidb_lightning_spark.sqltext import ident, lit


@dataclass(frozen=True)
class CSVConfig:
    separator: str = ","
    delimiter: str = '"'
    header: bool = True
    not_null: bool = False
    null: str = r"\N"
    backslash_escape: bool = True
    trim_last_sep: bool = False
    character_set: str = "utf-8"
    # mydumper.strict-format (config.go:262): rows never contain embedded
    # newlines, so files are byte-range splittable. The reference only
    # splits large CSVs under this flag (region.go:236-286); for Spark it
    # maps to multiLine=false -> line-splittable scans (task per 256 MiB
    # instead of task per file).
    strict_format: bool = False
    # exact-dialect (extension): force (True) / forbid (False) the exact
    # MySQL-dialect lexer; None = auto-select per scan group when a
    # sample shows byte patterns the fast univocity path can't
    # round-trip (needs_exact_dialect)
    exact_dialect: bool | None = None


class _ProcStream:
    """Read-only stream over an external decompressor's stdout. Used only
    for driver-side peeks/transcodes of codecs Python lacks natively; the
    executor-side scan decompresses in the JVM (Hadoop codecs)."""

    def __init__(self, args: list[str]):
        import subprocess

        self._p = subprocess.Popen(
            args, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL
        )

    def read(self, n: int = -1) -> bytes:
        return self._p.stdout.read(n)

    def readable(self) -> bool:
        return True

    def close(self) -> None:
        self._p.stdout.close()
        self._p.kill()
        self._p.wait()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class _HadoopStream:
    """Driver-side read adapter over a Hadoop FSDataInputStream (py4j).
    Used for bounded peeks (schema files, CSV headers, width probes) on
    scheme'd URIs — the same connector the executors scan with, so any
    store Spark can read, the driver can peek (A1 external storage,
    reference lightning.go:273-279). Java 17's readNBytes keeps the
    transfer one py4j call per read, never per byte."""

    def __init__(self, spark, path: str):
        jvm = spark._jvm
        self._p = jvm.org.apache.hadoop.fs.Path(path)
        fs = self._p.getFileSystem(spark._jsc.hadoopConfiguration())
        self._in = fs.open(self._p)

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            return bytes(self._in.readAllBytes())
        return bytes(self._in.readNBytes(int(n)))

    def readable(self) -> bool:
        return True

    def close(self) -> None:
        self._in.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def _decompress_open(path: str, spark=None):
    if "://" in path and not path.startswith("file:"):
        if path.endswith((".gz", ".xz", ".bz2", ".zst", ".zstd", ".lz4")):
            raise NotImplementedError(
                f"driver-side peek of a COMPRESSED remote file {path!r} is "
                "not supported — use uncompressed remote sources (executor "
                "scans still decompress gz natively), or mount the store"
            )
        if spark is None:
            raise ValueError(
                f"remote source {path!r} needs a SparkSession for the "
                "Hadoop FileSystem peek"
            )
        return _HadoopStream(spark, path)
    from tidb_lightning_spark.paths import file_uri_to_path

    path = file_uri_to_path(path)
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rb")
    if path.endswith(".xz"):
        import lzma

        return lzma.open(path, "rb")
    if path.endswith(".bz2"):
        import bz2

        return bz2.open(path, "rb")
    if path.endswith((".zst", ".zstd")):
        import shutil as _sh

        if _sh.which("zstd"):
            return _ProcStream(["zstd", "-dc", path])
        raise NotImplementedError(
            "driver-side zstd peek needs the `zstd` CLI or the zstandard "
            "module; executor-side scans decompress natively regardless"
        )
    if path.endswith(".lz4"):
        import shutil as _sh

        if _sh.which("lz4"):
            return _ProcStream(["lz4", "-dc", path])
        raise NotImplementedError(
            "reading .lz4 needs the `lz4` CLI: Hadoop's Lz4Codec reads "
            "the Hadoop block container, NOT the lz4 frame format dump "
            "pipelines produce, so the JVM scan cannot be used"
        )
    return open(path, "rb")


def user_cache_dir(name: str) -> str:
    """Per-user mode-0700 cache dir with verified ownership.

    The previous world-shared /tmp/tls_* locations were predictable:
    another local user could pre-create them and plant forged entries
    (the md5 cache keys are computable from public path/size/mtime).
    Prefer $XDG_CACHE_HOME / ~/.cache; fall back to a uid-suffixed
    tempdir. Refuses a directory owned by someone else."""
    import tempfile

    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    try:
        os.makedirs(base, exist_ok=True)
    except OSError:
        base = os.path.join(tempfile.gettempdir(), f"tls_cache_u{os.getuid()}")
        os.makedirs(base, exist_ok=True)
    d = os.path.join(base, name)
    os.makedirs(d, mode=0o700, exist_ok=True)
    os.chmod(d, 0o700)
    st = os.stat(d)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise PermissionError(
            f"refusing cache dir {d}: owned by uid {st.st_uid}, "
            f"not {os.getuid()}"
        )
    return d


def _cached_driver_copy(cache_name: str, key_str: str, out_name: str,
                        write_fn) -> str:
    """The one keyed, atomic driver-side cache-copy recipe behind
    transcode_to_utf8, materialize_lz4 and spool_remote_to_local:
    md5(key_str) names the entry under user_cache_dir(cache_name),
    write_fn(tmp_path) produces the bytes, os.replace publishes. The
    tmp name is unique PER WRITER (pid + uuid): a shared `dst + .part`
    let two concurrent spoolers interleave writes into one file and
    publish a corrupt entry (and the loser kept appending to the
    published dst through its open fd). With unique tmps each writer
    publishes its own complete copy; last replace wins atomically, and
    a failed writer's tmp is removed on the way out."""
    import hashlib
    import uuid

    cache = user_cache_dir(cache_name)
    key = hashlib.md5(key_str.encode()).hexdigest()[:16]
    dst = os.path.join(cache, f"{key}_{out_name}")
    if not os.path.exists(dst):
        tmp = f"{dst}.{os.getpid()}.{uuid.uuid4().hex}.part"
        try:
            write_fn(tmp)
            os.replace(tmp, dst)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return dst


def spool_remote_to_local(paths: list[str], spark) -> list[str]:
    """Driver-side byte-copy of remote objects into the per-user cache,
    keyed by (path, length, mtime) via Hadoop FileStatus — the bridge
    that lets remote dumps the distributed readers can't take (legacy
    charsets past the whole-file cap, compressed SQL dumps) flow
    through the LOCAL machinery (stream decompress, transcode,
    statement-aligned splitting), which supports any size and charset.

    Reference parity: lightning streams every remote file through one
    storage-abstraction reader per file regardless of size or charset
    (mydump/reader.go:39-118,140-179) — this is the same single-stream
    pass, materialized so the local splitter can then do better than
    the reference (it never splits .sql mid-file; our local path
    does). Cost: one driver download per file, so pre-splitting dumps
    (mydumper -F 256) or storing them uncompressed/utf-8 remains the
    100 TB-preferred layout — those take the fully-distributed paths."""
    jvm = spark._jvm
    out = []
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(jpath)

        def copy(tmp, p=p):
            with _HadoopStream(spark, p) as fin, open(tmp, "wb") as fout:
                while True:
                    chunk = fin.read(8 << 20)
                    if not chunk:
                        break
                    fout.write(chunk)

        out.append(_cached_driver_copy(
            "tls_remote_spool",
            f"v1:{p}:{st.getLen()}:{st.getModificationTime()}",
            os.path.basename(p),
            copy,
        ))
    return out


def materialize_lz4(paths: list[str]) -> list[str]:
    """Driver-side decompress fallback for .lz4 data files (A9 departure
    table: the reference rejects ALL compressed inputs, router.go:256-273;
    we accept what a scan can actually read). Spark cannot scan lz4-frame
    files — Hadoop's Lz4Codec misparses the frame header as a block
    length and OOMs the executor — so CLI-frame .lz4 is decompressed ONCE
    on the driver (lz4 CLI) into the per-user cache, keyed by
    (path, size, mtime), and the plain copy is scanned; it also splits
    normally afterwards. Non-.lz4 paths pass through untouched. Raises
    NotImplementedError up front when no lz4 CLI exists — never a late
    executor failure."""
    import shutil as _sh
    import subprocess

    if not any(p.endswith(".lz4") for p in paths):
        return paths
    remote = [
        p for p in paths
        if p.endswith(".lz4") and "://" in p and not p.startswith("file:")
    ]
    if remote:
        raise NotImplementedError(
            f"lz4 files on remote storage are not supported ({remote[0]!r}):"
            " the driver-side decompress fallback needs local access; "
            "re-compress as gzip/zstd (scanned natively) or copy locally"
        )
    if not _sh.which("lz4"):
        raise NotImplementedError(
            "source contains .lz4 files but no `lz4` CLI is available to "
            "decompress them (Spark's Lz4Codec reads a different "
            "container format); install lz4 or re-compress as gzip/zstd"
        )
    out = []
    for p in paths:
        if not p.endswith(".lz4"):
            out.append(p)
            continue
        st = os.stat(p)

        def decompress(tmp, p=p):
            with open(tmp, "wb") as fout:
                subprocess.run(
                    ["lz4", "-dc", p], stdout=fout, check=True
                )

        out.append(_cached_driver_copy(
            "tls_lz4",
            f"{os.path.abspath(p)}:{st.st_size}:{st.st_mtime_ns}",
            os.path.basename(p)[:-4],
            decompress,
        ))
    return out


def read_header(path: str, cfg: CSVConfig, spark=None) -> list[str]:
    """Driver-side first-line read -> column names (csv_parser.go:513-538)."""
    fields = _split_line_first(path, cfg, spark)
    if cfg.trim_last_sep and fields and fields[-1] == "":
        fields = fields[:-1]
    return [f.strip().strip(cfg.delimiter) if cfg.delimiter else f for f in fields]


def _split_line_first(path: str, cfg: CSVConfig, spark=None) -> list[str]:
    """The first line's fields, from a bounded driver-side peek. Only the
    first line's bytes are decoded: a strict decode of the whole peek
    would fail on bytes that are no text further down (a BLOB field). In
    every charset but UTF-16/32 a 0x0A byte is a newline, never part of
    a multibyte character."""
    raw = _peek(path, spark)
    low = (cfg.character_set or "utf-8").lower()
    if low in ("auto", "binary") or not codecs.lookup(low).name.startswith(
        ("utf-16", "utf-32")
    ):
        raw = raw.split(b"\n", 1)[0]
    text = decode_file_bytes(raw, cfg.character_set, path)
    return _split_line(io.StringIO(text).readline().rstrip("\r\n"), cfg)


def _split_line(line: str, cfg: CSVConfig) -> list[str]:
    """Split one physical line on the separator, honoring quotes."""
    out, cur, i, n = [], [], 0, len(line)
    q = cfg.delimiter
    sep = cfg.separator
    in_q = False
    while i < n:
        ch = line[i]
        if in_q:
            if cfg.backslash_escape and ch == "\\" and i + 1 < n:
                cur.append(line[i : i + 2])
                i += 2
                continue
            if q and ch == q:
                in_q = False
            else:
                cur.append(ch)
            i += 1
            continue
        if q and ch == q:
            in_q = True
            i += 1
            continue
        if sep and line.startswith(sep, i):
            out.append("".join(cur))
            cur = []
            i += len(sep)
            continue
        cur.append(ch)
        i += 1
    out.append("".join(cur))
    return out


# charsets Spark 4's CSV reader decodes natively, codecs name -> the one
# spelling Spark accepts; the rest take the strict transcode (reference:
# lightning/mydump/reader.go:39-118), ascii and utf-16-le too, whose
# invalid bytes Spark would silently read as U+FFFD (latin-1 has none)
SPARK_NATIVE_CHARSETS = {
    "iso8859-1": "iso-8859-1", "utf-16": "utf-16", "utf-32": "utf-32",
    "utf-8": "utf-8",
}

# bounded prefix used to auto-detect a DATA file's charset. The
# reference validates whole files but only ever sees SCHEMA files
# through that path (mydump/reader.go:70-118); validating terabyte data
# files driver-side is not an option, so detection samples a prefix and
# the downstream STRICT decode still fails loudly (never corrupts) if
# the tail disagrees with the detected charset.
CHARSET_DETECT_SAMPLE = 1 << 20


def _peek(path: str, spark=None) -> bytes:
    """The file's first CHARSET_DETECT_SAMPLE bytes (decompressed), less a
    possibly-split trailing multibyte char when the sample is full."""
    with _decompress_open(path, spark) as f:
        raw = f.read(CHARSET_DETECT_SAMPLE)
    return raw[:-3] if len(raw) == CHARSET_DETECT_SAMPLE else raw


def decode_file_bytes(raw: bytes, configured: str, path: str = "") -> str:
    """Reference decodeCharacterSet parity (mydump/reader.go:39-69):
    'binary' passes bytes through (latin-1, byte-preserving); utf-8 is
    strict (invalid input is an ERROR, never U+FFFD corruption); 'auto'
    tries utf-8 then gb18030; gb18030 and anything else decode strictly.
    Used for whole-file driver-side reads (schema / view definitions /
    CSV headers)."""
    low = (configured or "utf-8").lower()
    if low == "binary":
        return raw.decode("iso-8859-1")
    if low == "auto":
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            try:
                return raw.decode("gb18030")
            except UnicodeDecodeError:
                raise ValueError(
                    f"failed to decode {path or 'file'} as auto "
                    "(tried utf-8, gb18030) — convert to the target "
                    "encoding manually"
                ) from None
    name = codecs.lookup(low).name
    try:
        return raw.decode(name)
    except UnicodeDecodeError as exc:
        raise ValueError(
            f"failed to decode {path or 'file'} as {name}: {exc} — "
            "convert to the target encoding manually or set "
            "mydumper.character-set"
        ) from None


def detect_charset(path: str, spark=None) -> str:
    """Resolve character-set='auto' for a DATA file: utf-8 if a bounded
    prefix validates, else gb18030, else error (reference
    mydump/reader.go:43-55 strategy). The last 3 bytes of the sample are
    dropped so a multi-byte sequence cut by the sample bound can't fake
    an invalid file."""
    raw = _peek(path, spark)
    for cs in ("utf-8", "gb18030"):
        try:
            raw.decode(cs)
            return cs
        except UnicodeDecodeError:
            continue
    raise ValueError(
        f"failed to detect the charset of {path} as auto "
        "(tried utf-8, gb18030) — set mydumper.character-set explicitly"
    )


def effective_charset(path: str, configured: str, spark=None) -> str:
    """The concrete codec a data read should use: resolves 'auto' by
    detection, normalizes everything else via codecs."""
    low = (configured or "utf-8").lower()
    if low == "auto":
        return detect_charset(path, spark)
    if low == "binary":
        return "iso8859-1"
    return codecs.lookup(low).name


def transcode_to_utf8(paths: list[str], charset: str) -> list[str]:
    """Stream-transcode legacy-charset files (gb18030/gbk/...) to UTF-8
    copies cached by (path, size, mtime).

    Driver-side IO — appropriate for legacy dump files which are rare and
    bounded; a 100 TB corpus in gb18030 should be pre-transcoded with a
    distributed text pass instead (mapInPandas decode), which this
    function's contract allows swapping in.
    """
    import codecs

    remote = [p for p in paths if "://" in p and not p.startswith("file:")]
    if remote:
        raise NotImplementedError(
            f"legacy-charset files on remote storage are not supported "
            f"({remote[0]!r}): transcoding needs local access — "
            "pre-transcode to UTF-8 (a distributed text pass) or copy "
            "locally"
        )
    out = []
    for p in paths:
        st = os.stat(p)

        eff = charset if charset != "auto" else detect_charset(p)

        def transcode(tmp, p=p, eff=eff):
            # compressed sources must be decompressed BEFORE transcoding
            # (the byte stream is not text); output is plain UTF-8.
            # STRICT decode: an invalid byte under the configured charset
            # is an error (reference reader.go:39-69 errors too) — the
            # old errors="replace" silently published U+FFFD-corrupted
            # copies into the import
            with _decompress_open(p) as fin, open(
                tmp, "w", encoding="utf-8"
            ) as fout:
                reader = codecs.getreader(eff)(fin, errors="strict")
                try:
                    while True:
                        chunk = reader.read(1 << 20)
                        if not chunk:
                            break
                        fout.write(chunk)
                except UnicodeDecodeError as exc:
                    raise ValueError(
                        f"failed to decode {p} as {eff}: {exc} — "
                        "convert to the target encoding manually or fix "
                        "mydumper.character-set"
                    ) from None

        out.append(_cached_driver_copy(
            "tls_transcode",
            # v3 salt: invalidates replace-mode (possibly corrupted)
            # cache entries from before the strict decode
            f"v3:{p}:{st.st_size}:{st.st_mtime_ns}:{eff}",
            f"{os.path.basename(p)}.utf8",
            transcode,
        ))
    return out


def read_csv_files(
    spark: SparkSession,
    paths: list[str],
    cfg: CSVConfig,
    n_columns: int | None = None,
    strict: bool = False,
) -> tuple[DataFrame, list[str] | None, list[str]]:
    """Read data files as all-string columns: (df, header_names, fields),
    the raw scan and its fields as `csv_reader` builds them. With
    cfg.header, all `paths` must share one header (the caller groups by
    header); header_names=None otherwise."""
    paths, cfg, header_names, width = _scan_group(
        spark, paths, cfg, n_columns, SPARK_NATIVE_CHARSETS
    )
    reader, fields = csv_reader(spark.read, cfg, width, strict)
    return reader.load(paths), header_names, fields


def _scan_group(spark, paths, cfg: CSVConfig, n_columns, readable):
    """(paths, cfg, header_names, width) of a scan group: lz4 unpacked,
    a charset not in `readable` (codecs -> reader name) transcoded."""
    paths = materialize_lz4(paths)
    header_names = read_header(paths[0], cfg, spark) if cfg.header else None
    # 'auto' resolves per scan group from the first file (reference
    # detects per file, reader.go:43-55; one table's files sharing a
    # charset is mydumper's invariant — a disagreeing file fails the
    # strict transcode loudly rather than corrupting)
    try:
        charset = effective_charset(paths[0], cfg.character_set, spark)
    except NotImplementedError:
        # compressed REMOTE file under 'auto': no driver peek — assume
        # utf-8 (the executor scan decompresses natively; a legacy
        # charset there requires an explicit character-set anyway)
        charset = "utf-8"
    if charset not in readable:
        paths = transcode_to_utf8(paths, charset)
        charset = "utf-8"
    cfg = dataclasses.replace(cfg, character_set=readable[charset])
    # the header's width, else the caller's, else the first line's
    width = len(header_names) if header_names is not None else (
        n_columns or len(_split_line_first(paths[0], cfg, spark)))
    return paths, cfg, header_names, width


def csv_reader(reader, cfg: CSVConfig, width: int, strict: bool = False):
    """The MySQL CSV dialect of every CSV scan, batch or streaming:
    (`reader`, fields), `reader` (`spark.read` or `spark.readStream`)
    with the options and all-string `_c*` schema set, and the SQL text of
    the `width` positional fields over its scan (null/empty mapping,
    overflow guard) for transform_table's reader projection.
    `cfg.character_set` is a SPARK_NATIVE_CHARSETS value."""
    n_read = width + (1 if cfg.trim_last_sep else 0)
    # one extra probe column (PERMISSIVE mode only): a row carrying MORE
    # fields than the table has columns must ERROR like the reference
    # ("column count mismatch, expected N, got M",
    # restore_test.go:1043-1078 encodeLoop) — the narrower schema alone
    # makes Spark silently DROP the surplus values. Under FAILFAST the
    # widened schema would flag every normal-width row as malformed, and
    # Spark's own MALFORMED_CSV_RECORD already fails overflow there.
    overflow = f"_c{n_read}" if not strict else None
    n_schema = n_read + (1 if overflow else 0)
    schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(n_schema)]
    )
    reader = (
        reader.format("csv")
        .schema(schema)
        .option("sep", cfg.separator)
        # nullValue is a NEVER-MATCHING sentinel, not cfg.null: univocity
        # returns the nullValue string for EMPTY UNQUOTED fields, so
        # telling Spark nullValue='\\N' silently turned every empty field
        # into NULL — MySQL semantics (csv_parser.go) are empty = ''
        # and only the literal null text = NULL. The distinction is
        # restored by the field SQL below.
        .option("nullValue", "\u0000__never__")
        .option("emptyValue", "")
        # embedded newlines in quoted fields (F4) need multiLine, which
        # makes a file one task; strict-format promises none exist
        .option("multiLine", "false" if cfg.strict_format else "true")
        .option("encoding", cfg.character_set)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        .option("header", "true" if cfg.header else "false")
        # we intentionally pass a positional _c* schema with header=true
        # (names come from our own driver-side header read): enforceSchema
        # applies it by position, so a header whose names or count differ
        # is not an error. It does not silence CSVHeaderChecker's warning:
        # in PERMISSIVE mode the overflow probe column makes the schema
        # one wider than the header, so Spark warns once per file
        .option("enforceSchema", "true")
    )
    if cfg.delimiter:
        reader = reader.option("quote", cfg.delimiter)
        reader = reader.option(
            "escape", "\\" if cfg.backslash_escape else cfg.delimiter
        )
    else:
        reader = reader.option("quote", "\u0000")  # NUL char disables quoting
    # the trailing empty field of trim_last_sep (`_c{width}`) is read but
    # named by no field below, so the scan prunes it.
    # Restore the MySQL null/empty distinction the sentinel preserved:
    # a parsed NULL here is an EMPTY unquoted field -> '' (only the
    # null text means NULL, csv_parser.go:108-117); the literal null
    # text (default '\N', reaching us verbatim since univocity only
    # unescapes around quote chars) -> NULL. Under not-null the null
    # text is ordinary data and empties are still ''.
    fields = []
    for i in range(width):
        v = f"coalesce(_c{i}, '')"
        if not cfg.not_null:
            v = f"CASE WHEN {v} = {lit(cfg.null)} THEN NULL ELSE {v} END"
        fields.append(v)
    if overflow:
        # overflow guard: NULL (and a no-op under coalesce) unless the row
        # really carried an extra field, in which case the task fails with
        # the reference's column-count-mismatch error. Folded into the
        # first field so the optimizer can't prune the probe read away.
        msg = lit(
            f"column count mismatch, expected {width}, got at least "
            f"{width + 1} (extra field: "
        )
        fields[0] = (
            f"coalesce(CASE WHEN {overflow} IS NOT NULL THEN "
            f"raise_error(concat({msg}, {overflow}, ')')) END, {fields[0]})"
        )
    return reader, fields


# the byte-preserving scan charset of a table with BLOB columns, and the
# binary_encoding that hands those columns their raw bytes
LATIN1 = "ISO-8859-1"


def blob_dialect(
    info: TableInfo, cfg: CSVConfig, path: str = "", spark=None
) -> tuple[CSVConfig, str]:
    """BLOB-in-CSV byte preservation (reference tests/csv `escapes.b`),
    for every CSV scan, batch or streaming: (the dialect to scan `path`
    with, transform_table's binary_encoding). The reference parses CSV
    at the byte level, so raw non-UTF-8 bytes inside a quoted blob field
    (0xFF, bare CR/LF) reach the table verbatim; a UTF-8 Spark read would
    turn them into U+FFFD first. So when the table has binary-family
    columns and the file's bytes are UTF-8 or ASCII, the scan reads
    latin-1 (one char per byte) and `text_fields` re-decodes the TEXT
    columns to UTF-8 (`byte_preserving`)."""
    if not _binary_columns(info):
        return cfg, "UTF-8"
    try:
        charset = effective_charset(path, cfg.character_set, spark)
    except NotImplementedError:
        charset = "utf-8"  # compressed remote file: no driver peek
    if not byte_preserving(info, charset):
        return cfg, "UTF-8"
    return dataclasses.replace(cfg, character_set=LATIN1.lower()), LATIN1


def byte_preserving(info: TableInfo, charset: str) -> bool:
    """Whether a file whose bytes are in the effective `charset` is
    scanned latin-1 to keep BLOB bytes: the table has binary-family
    columns and the file is UTF-8 or ASCII. A legacy-charset file
    carrying blobs cannot be both transcoded and byte-preserved: text
    wins."""
    return charset in ("utf-8", "ascii") and bool(_binary_columns(info))


def text_fields(
    fields: list[str], names: list[str] | None, info: TableInfo,
    binary_encoding: str,
) -> list[str]:
    """`fields` of a scan with the given binary_encoding, the text
    columns of a byte-preserving (latin-1) one re-decoded to UTF-8.
    `names` are the file's column names in field order (its header),
    None for the DDL's order."""
    if binary_encoding != LATIN1:
        return fields
    blobs = _binary_columns(info)
    srcs = names or [c.name for c in info.columns]
    return [
        f if i >= len(srcs) or srcs[i].lower() in blobs
        else f"decode(encode({f}, '{LATIN1}'), 'UTF-8')"
        for i, f in enumerate(fields)
    ]


def _binary_columns(info: TableInfo) -> set[str]:
    return {
        c.name.lower() for c in info.columns
        if isinstance(c.mysql.spark_type(), T.BinaryType)
    }


def unescape_columns(info: TableInfo, cfg: CSVConfig) -> set[str] | None:
    """The (lower-cased) string-family columns whose MySQL `\\n`/`\\t`/...
    escapes survive the CSV lexer as two characters and are restored
    inside their cast (cast.mysql_unescape_sql rationale); None when the
    dialect has no backslash escapes."""
    if not (cfg.delimiter and cfg.backslash_escape):
        return None
    return {c.name.lower() for c in info.columns
            if c.mysql.base in STRING_FAMILY_BASES}


def jsonl_reader(reader, info: TableInfo):
    """The JSONL scan (the LLM-corpus dump format) as `csv_reader` gives
    it. Every DDL column is read AS STRING, so JSON's own number parsing
    cannot diverge from the MySQL-cast chain; a missing key is SQL NULL,
    not DEFAULT; unknown keys are ignored; the fields are the DDL names."""
    schema = T.StructType(
        [T.StructField(c.name, T.StringType()) for c in info.columns]
    )
    return (
        reader.format("json").schema(schema).option("mode", "PERMISSIVE"),
        [ident(c.name) for c in info.columns],
    )


# ---------------------------------------------------------------------------
# EXACT MySQL-dialect lexer (reference csv_parser.go one-pass semantics)
# ---------------------------------------------------------------------------
#
# Spark's univocity lexer cannot express MySQL's one-pass unescape when
# backslash-escape and a quote delimiter are BOTH active: it consumes
# `\\` at the lexer level (so `\\n` becomes indistinguishable from `\n`)
# and cannot honor quote DOUBLING ("" -> ") at the same time as `\"`.
# The reference's hand-rolled byte parser does both in one pass
# (tests/csv empty_strings pins `""""` -> `"`). This path re-creates it:
# whole-file executor tasks lex latin-1-preserved text with ONE regex
# scan per field, unescaping in a single pass. It is the SLOW path —
# auto-selected per scan group only when a driver-side sample shows the
# ambiguous byte patterns (doubled quotes / doubled backslashes), which
# clean mydumper output never contains.

_MYSQL_CSV_CTRL = {
    "0": "\x00", "b": "\b", "n": "\n", "r": "\r",
    "t": "\t", "Z": "\x1a",
}


# bounded trigger probe: the sample is per-GROUP, not per-file — a
# 100k-file table must not cost 100k driver reads on the happy path
EXACT_DIALECT_PROBE_FILES = 16


def needs_exact_dialect(paths: list[str], cfg: CSVConfig, spark=None) -> bool:
    """Sample-based trigger: quote-doubling or doubled backslashes in
    the first MiB of up to EXACT_DIALECT_PROBE_FILES files of the scan
    group. Doubly bounded — a file outside the probe set (or whose
    first MiB is clean) stays on the fast path; exact mode can be
    forced for such corpora with mydumper.csv.exact-dialect = true."""
    if not (cfg.delimiter and cfg.backslash_escape):
        return False
    import re as _re

    dd = _re.escape((cfg.delimiter + cfg.delimiter).encode("utf-8", "ignore"))
    # ONLY the byte patterns the fast path actually corrupts: a doubled
    # quote, or a doubled backslash immediately followed by a control
    # letter / N (the `\\n`-vs-`\n` and `\\N`-vs-null ambiguities the
    # univocity lexer destroys). A plain `\\` elsewhere (Windows paths,
    # regexes in data) round-trips fine and must NOT flip a whole scan
    # group onto the slow lexer.
    trigger = _re.compile(dd + rb"|\\\\[0bnrtZN]")
    for p in paths[:EXACT_DIALECT_PROBE_FILES]:
        try:
            with _decompress_open(p, spark) as f:
                raw = f.read(CHARSET_DETECT_SAMPLE)
        except NotImplementedError:
            # compressed remote files can't be driver-peeked — they stay
            # on the fast path (the executor scan decompresses natively);
            # force csv.exact-dialect for such corpora when needed
            continue
        if trigger.search(raw):
            return True
    return False


def _lex_mysql_csv(
    text: str, cfg: CSVConfig, n_read: int
) -> list[list[str | None]]:
    """One-pass MySQL CSV lex of a whole file's (byte-preserving) text.
    Returns rows of n_read fields (None = SQL NULL / missing).

    Strictness follows the reference parser exactly
    (csv_parser_test.go contract, pinned in
    tests/test_round12_fixes.py): unterminated quoted fields, a
    dangling backslash, a quote inside an unquoted field, and content
    between a closing quote and the next separator/newline are ERRORS;
    empty and whitespace-only unquoted lines are SKIPPED (never emitted
    as one-empty-field rows)."""
    import re

    sep, quote, nulltext = cfg.separator, cfg.delimiter, cfg.null
    q = re.escape(quote) if quote else ""
    s0 = re.escape(sep[0])
    exclude = s0 + (q if quote else "")
    if cfg.backslash_escape:
        # quoted body: escapes, doubled quotes, or plain runs
        qbody = re.compile(rf"(?:\\.|{q}{q}|[^{q}\\])*", re.S)
        # unquoted body: escapes or anything except sep/quote/newline
        ubody = re.compile(rf"(?:\\.|[^\\{exclude}\r\n])*", re.S)
        unesc_re = re.compile(rf"\\(.)|{q}{q}" if quote else r"\\(.)", re.S)

        def _sub(m) -> str:
            ch = m.group(1)
            if ch is None:
                return quote  # doubled quote
            # reference parity (parser.go:284-301): every unknown
            # escape DROPS its backslash (\N -> N, \% -> %) — only the
            # six control escapes map
            return _MYSQL_CSV_CTRL.get(ch, ch)

        def unescape_body(b: str) -> str:
            return unesc_re.sub(_sub, b)
    else:
        # no escape flavor: backslash is ordinary data; doubling still
        # collapses inside quotes (csv_parser.go scan-level handling)
        qbody = re.compile(rf"(?:{q}{q}|[^{q}])*", re.S)
        ubody = re.compile(rf"[^{exclude}\r\n]*", re.S)
        qq = quote + quote

        def unescape_body(b: str) -> str:
            return b.replace(qq, quote) if quote else b

    # null detection (csv_parser.go:108-115): with backslash-escape and
    # null='\N' (the WithNull flavor) the DEQUOTED RAW content is
    # compared before unescaping — so a QUOTED "\N" is null too; with a
    # different null text the comparison happens AFTER unescaping
    with_null = cfg.backslash_escape and nulltext == r"\N"

    def _field(body: str) -> str | None:
        if cfg.not_null:
            return unescape_body(body)
        if with_null:
            return None if body == r"\N" else unescape_body(body)
        out = unescape_body(body)
        return None if out == nulltext else out

    def _err(msg: str, pos: int) -> ValueError:
        ctx = text[max(0, pos - 20):pos + 20]
        return ValueError(
            f"CSV syntax error at offset {pos}: {msg} (near {ctx!r})"
        )

    rows: list[list[str | None]] = []
    row: list[str | None] = []
    had_quote = had_sep = False
    blank = True  # every field so far whitespace-only & unquoted
    i, n = 0, len(text)
    while i < n:
        if quote and text.startswith(quote, i):
            had_quote = True
            blank = False
            m = qbody.match(text, i + len(quote))
            body = m.group(0)
            i = m.end()
            if not text.startswith(quote, i):
                # EOF inside the field, or a dangling backslash before
                # EOF (errUnterminatedQuotedField / errDanglingBackslash)
                raise _err("unterminated quoted field", i)
            i += len(quote)
            # after the closing quote only a separator, newline or EOF
            # may follow (reference rejects `"x"?` — MySQL's LOAD would
            # keep it as-is, every CSV parser disagrees; error is the
            # reference's pick)
            if i < n and not (
                text.startswith(sep, i) or text[i] in "\r\n"
            ):
                raise _err("unexpected content after closing quote", i)
            row.append(_field(body))
        else:
            body = ""
            while True:
                m = ubody.match(text, i)
                body += m.group(0)
                i = m.end()
                # a lone sep[0] that does NOT start the full (multi-char)
                # separator is field content, not a terminator
                if (
                    i < n
                    and text[i] == sep[0]
                    and not text.startswith(sep, i)
                ):
                    body += text[i]
                    i += 1
                    continue
                break
            if (
                cfg.backslash_escape
                and i < n
                and text[i] == "\\"
                and not text.startswith(sep, i)
            ):
                raise _err("dangling backslash", i)
            if quote and i < n and text.startswith(quote, i):
                raise _err("quote inside unquoted field", i)
            if body.strip():
                blank = False
            row.append(_field(body))
        if text.startswith(sep, i):
            had_sep = True
            i += len(sep)
            continue
        # row terminator (or EOF)
        if text.startswith("\r\n", i):
            i += 2
        elif i < n:  # '\n' or '\r'
            i += 1
        if cfg.trim_last_sep and row and row[-1] == "":
            row.pop()
        # reference skips empty and whitespace-only unquoted lines
        # entirely (TestCRLF: c\n\n\n\nd is two rows; whitespace-line
        # test): never emit them as one-field rows
        if not (blank and not had_sep and len(row) <= 1):
            rows.append(row)
        row = []
        had_quote = had_sep = False
        blank = True
    if row and not (blank and not had_sep and len(row) <= 1):
        rows.append(row)
    return [
        r[:n_read] + [None] * (n_read - len(r)) if len(r) != n_read else r
        for r in rows
    ]


def read_csv_files_exact(
    spark: SparkSession,
    paths: list[str],
    cfg: CSVConfig,
    n_columns: int | None = None,
) -> tuple[DataFrame, list[str] | None]:
    """Exact-dialect counterpart of read_csv_files: whole-file executor
    tasks, byte-preserving latin-1 text, one-pass MySQL unescape done IN
    the lexer (callers must NOT re-apply unescape_cols, and must
    re-decode text columns from the latin-1 preservation — the same
    contract as the binary-column raw read). So every charset but utf-8
    is transcoded first, Spark-readable ones included."""
    from tidb_lightning_spark import _shipping

    paths, cfg, header_names, n_read = _scan_group(
        spark, paths, cfg, n_columns, {"utf-8": "utf-8"}
    )

    _shipping.ensure_shipped(spark)
    meta = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(len(paths), 1), "path")
    out_schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(n_read)]
    )
    skip_header = cfg.header

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for path in pdf["path"]:
                with _decompress_open(path) as f:
                    text = f.read().decode("iso-8859-1")
                rows = _lex_mysql_csv(text, cfg, n_read)
                if skip_header and rows:
                    rows = rows[1:]
                yield pd.DataFrame(
                    {
                        f"_c{i}": [r[i] for r in rows]
                        for i in range(n_read)
                    },
                    dtype=object,
                )

    return meta.mapInPandas(parse, schema=out_schema), header_names


def group_files_by_header(
    paths: list[str], cfg: CSVConfig, spark=None
) -> list[tuple[tuple[str, ...] | None, list[str]]]:
    """Batch files sharing an identical header into one scan group."""
    if not cfg.header:
        return [(None, list(paths))]
    groups: dict[tuple[str, ...], list[str]] = {}
    order: list[tuple[str, ...]] = []
    for p in paths:
        h = tuple(read_header(p, cfg, spark))
        if h not in groups:
            groups[h] = []
            order.append(h)
        groups[h].append(p)
    return [(h, groups[h]) for h in order]
