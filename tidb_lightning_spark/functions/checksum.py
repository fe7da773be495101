"""KV-checksum analog: a commutative (count, bytes, xor-hash) monoid.

The reference accumulates per-chunk checksums `{bytes, kvs, crc64-ecma xor}`
and merges them associatively (lightning/verification/checksum.go:27-93);
XOR makes the aggregate order-independent, so it parallelizes perfectly.

We keep the same algebra over the row's TYPED column values (we have no
TiKV key bytes, and like the reference we never render a row as text):

  * kvs         = row count;
  * total_bytes = sum of typed widths: the octet length of every string
    and binary value, Spark's fixed `defaultSize` for every other type
    (INT 4, BIGINT 8, DATE 4, DECIMAL(p<=18) 8, ...); a NULL counts 0;
  * checksum    = bit_xor of xxhash64 over the columns, in the delivered
    frame's order, followed by a null mask (one bit per column, 63
    columns per BIGINT term). xxhash64 skips NULL arguments, so without
    the mask rows (NULL, 5) and (5, NULL) would hash alike and a NULL
    that moved to another column would go unseen.

Both sides of the comparison are Spark frames of the same schema (the
ingest observe, the readback and the recompute from source), so a typed
hash suffices; a JDBC readback is cast to the ingest schema first.
`HASH_KIND` names this construction in stored checkpoint records, so a
value recorded under another construction is never merged into one
computed under this one.

Everything here is built-in Catalyst expressions — no Python UDF, the whole
aggregation stays inside whole-stage codegen and merges map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_lightning_spark.sqltext import ident

HASH_KIND = "xxhash64-typed"

# Spark's DataType.defaultSize for the flat scalar types the import
# model produces (schema/types.py); strings and binary count octets
_WIDTHS = {
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.LongType: 8,
    T.FloatType: 4,
    T.DoubleType: 8,
    T.DateType: 4,
    T.TimestampType: 8,
    T.TimestampNTZType: 8,
}


def _width_sql(f: T.StructField) -> str:
    c, t = ident(f.name), f.dataType
    if isinstance(t, (T.StringType, T.BinaryType)):
        return f"coalesce(octet_length({c}), 0)"
    if isinstance(t, T.DecimalType):
        width = 8 if t.precision <= 18 else 16
    elif type(t) in _WIDTHS:
        width = _WIDTHS[type(t)]
    else:
        raise TypeError(f"checksum: no fixed width for column {f.name!r} of type {t}")
    return f"if({c} IS NULL, 0, {width})"


def _balanced(op: str, terms: list[str]) -> str:
    """`a op b op ...` as a balanced tree, so a wide table's expression
    stays log-deep for the analyzer and codegen."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} {op} {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def checksum_aggs(fields: list[T.StructField]) -> list[Column]:
    """The triple as aggregate Columns over the typed `fields` — usable in
    df.agg() or as df.observe() metrics (accumulated DURING the sink's
    write job, the exact accumulate-while-delivering shape of the
    reference's per-chunk checksum, restore.go:2325-2332, with no extra
    source scan)."""
    names = [ident(f.name) for f in fields]
    masks = [
        _balanced("|", [
            f"if({c} IS NULL, {1 << j}L, 0L)" for j, c in enumerate(names[i:i + 63])
        ])
        for i in range(0, len(names), 63)
    ]
    return [
        F.count(F.lit(1)).alias("kvs"),
        F.expr(f"sum({_balanced('+', [_width_sql(f) for f in fields])})").alias("total_bytes"),
        F.expr(f"bit_xor(xxhash64({', '.join(names + masks)}))").alias("checksum"),
    ]


def checksum(df: DataFrame, fields: list[T.StructField] | None = None) -> DataFrame:
    """(kvs, total_bytes, checksum) — the reference's verification triple.

    Mirrors lightning/verification/checksum.go:39-93: count, byte size and
    an XOR-merged per-row hash. Computed at ingest time AND re-computed on
    the written table; equality = verified load (restore.go:2194-2213).
    """
    return df.agg(*checksum_aggs(fields or df.schema.fields))


class Checksum:
    """Driver-side mergeable checksum value (mirrors verification.KVChecksum.Add)."""

    __slots__ = ("kvs", "total_bytes", "value")

    def __init__(self, kvs: int = 0, total_bytes: int = 0, value: int = 0):
        self.kvs, self.total_bytes, self.value = kvs, total_bytes, value

    def add(self, other: "Checksum") -> "Checksum":
        return Checksum(
            self.kvs + other.kvs,
            self.total_bytes + other.total_bytes,
            self.value ^ other.value,
        )

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Checksum)
            and self.kvs == other.kvs
            and self.total_bytes == other.total_bytes
            and self.value == other.value
        )

    def __repr__(self) -> str:
        return f"Checksum(kvs={self.kvs}, bytes={self.total_bytes}, value={self.value:#x})"

    @classmethod
    def from_row(cls, row) -> "Checksum":
        return cls(row["kvs"], row["total_bytes"] or 0, row["checksum"] or 0)
