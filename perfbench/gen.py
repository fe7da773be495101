"""Seeded Mydumper-style dump generator for the import benchmark.

Every table is synthesized from ``numpy.random.Generator(PCG64(seed))``:
the same seed and shape give byte-identical files. Each value is first
rendered as its canonical text (the form DuckDB prints when it casts the
written column to VARCHAR), and that one text feeds three consumers:

- the CSV dump (header row, strings quoted with ``"``),
- the SQL dump (``INSERT INTO `t` VALUES (...),...;`` statements),
- the expected digest: row count plus an order-independent hash of every
  row, which ``verify.py`` recomputes from the imported tables.

Bulk copies are distinct files: copy ``k`` of ``lineitem`` shifts every
order key by ``k * ORDER_SPAN`` and has its own seeded row order, so no
primary key repeats across files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# key span of one lineitem copy: copies never share an order key
ORDER_SPAN = 10_000_000
EPOCH_1992 = 694_224_000  # 1992-01-01 00:00:00 UTC
SPAN_7Y = 7 * 365 * 86_400

WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu furious quick slow careful ironic "
    "final pending regular special express bold silent even odd".split()
)
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
TYPES = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
LANGS = np.array(["en", "de", "fr", "es", "it"])
SOURCES = np.array(["web", "forum", "news", "wiki"])

# column kinds: "i" integer, "d" DECIMAL(12,2), "s" string, "t" DATETIME
DDL = {
    "lineitem": (
        [("l_orderkey", "BIGINT NOT NULL", "i"), ("l_partkey", "BIGINT NOT NULL", "i"),
         ("l_suppkey", "BIGINT NOT NULL", "i"), ("l_linenumber", "INT NOT NULL", "i"),
         ("l_quantity", "DECIMAL(12,2) NOT NULL", "d"),
         ("l_extendedprice", "DECIMAL(12,2) NOT NULL", "d"),
         ("l_discount", "DECIMAL(12,2) NOT NULL", "d"), ("l_tax", "DECIMAL(12,2) NOT NULL", "d"),
         ("l_returnflag", "CHAR(1) NOT NULL", "s"), ("l_linestatus", "CHAR(1) NOT NULL", "s"),
         ("l_shipdate", "DATETIME NOT NULL", "t")],
        ["l_orderkey", "l_linenumber"],
    ),
    "region": ([("r_regionkey", "INT NOT NULL", "i"), ("r_name", "VARCHAR(25)", "s")],
               ["r_regionkey"]),
    "nation": ([("n_nationkey", "INT NOT NULL", "i"), ("n_name", "VARCHAR(25)", "s"),
                ("n_regionkey", "INT NOT NULL", "i")], ["n_nationkey"]),
    "customer": ([("c_custkey", "BIGINT NOT NULL", "i"), ("c_name", "VARCHAR(25)", "s"),
                  ("c_nationkey", "INT NOT NULL", "i"), ("c_acctbal", "DECIMAL(12,2)", "d"),
                  ("c_mktsegment", "VARCHAR(10)", "s")], ["c_custkey"]),
    "supplier": ([("s_suppkey", "BIGINT NOT NULL", "i"), ("s_name", "VARCHAR(25)", "s"),
                  ("s_nationkey", "INT NOT NULL", "i"), ("s_acctbal", "DECIMAL(12,2)", "d")],
                 ["s_suppkey"]),
    "part": ([("p_partkey", "BIGINT NOT NULL", "i"), ("p_name", "VARCHAR(55)", "s"),
              ("p_brand", "VARCHAR(10)", "s"), ("p_type", "VARCHAR(25)", "s"),
              ("p_size", "INT", "i"), ("p_retailprice", "DECIMAL(12,2)", "d")], ["p_partkey"]),
    "documents": ([("doc_id", "BIGINT NOT NULL", "i"), ("text", "TEXT", "s"),
                   ("lang", "VARCHAR(8)", "s"), ("source", "VARCHAR(16)", "s"),
                   ("n_chars", "BIGINT", "i")], ["doc_id"]),
    "orders": ([("o_orderkey", "BIGINT NOT NULL", "i"), ("o_custkey", "BIGINT NOT NULL", "i"),
                ("o_orderstatus", "CHAR(1)", "s"), ("o_totalprice", "DECIMAL(12,2)", "d"),
                ("o_orderdate", "DATETIME", "t"), ("o_orderpriority", "VARCHAR(15)", "s")],
               ["o_orderkey"]),
}


def _ints(a) -> pa.Array:
    return pc.cast(pa.array(np.asarray(a, dtype=np.int64)), pa.string())


def _money(cents) -> pa.Array:
    cents = np.asarray(cents, dtype=np.int64)
    mag = np.abs(cents)
    frac = pc.utf8_lpad(_ints(mag % 100), width=2, padding="0")
    text = pc.binary_join_element_wise(_ints(mag // 100), frac, ".")
    sign = pc.take(pa.array(["", "-"]), pa.array((cents < 0).astype(np.int8)))
    return pc.binary_join_element_wise(sign, text, "")


def _times(rng, n: int) -> pa.Array:
    secs = EPOCH_1992 + rng.integers(0, SPAN_7Y, n) // 60 * 60
    return pc.cast(pa.array(secs.astype(np.int64)).cast(pa.timestamp("s")), pa.string())


def _pick(rng, choices: np.ndarray, n: int) -> pa.Array:
    return pa.array(choices[rng.integers(0, len(choices), n)])


def _words(rng, n: int, lo: int, hi: int) -> pa.Array:
    counts = rng.integers(lo, hi + 1, n)
    flat = WORDS[rng.integers(0, len(WORDS), int(counts.sum()))]
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
    return pc.binary_join(lists, " ")


def _labels(prefix: str, keys) -> pa.Array:
    return pc.binary_join_element_wise(
        pa.array([prefix] * len(keys)), pc.utf8_lpad(_ints(keys), width=9, padding="0"), "#"
    )


def lineitem(rng, rows: int, copy: int) -> dict[str, pa.Array]:
    n_orders = max(1, rows // 4)
    okey = rng.integers(1, n_orders + 1, rows)
    okey.sort()
    # linenumber = position within its order, so (orderkey, linenumber) is unique
    starts = np.searchsorted(okey, okey, side="left")
    line = np.arange(rows) - starts + 1
    order = rng.permutation(rows)  # seeded row order, unsorted on disk
    okey, line = okey[order] + copy * ORDER_SPAN, line[order]
    qty = rng.integers(1, 51, rows)
    price = rng.integers(90_000, 10_500_000, rows)
    return {
        "l_orderkey": _ints(okey), "l_partkey": _ints(rng.integers(1, 20_001, rows)),
        "l_suppkey": _ints(rng.integers(1, 1_001, rows)), "l_linenumber": _ints(line),
        "l_quantity": _money(qty * 100), "l_extendedprice": _money(price),
        "l_discount": _money(rng.integers(0, 11, rows)), "l_tax": _money(rng.integers(0, 9, rows)),
        "l_returnflag": _pick(rng, np.array(["A", "N", "R"]), rows),
        "l_linestatus": _pick(rng, np.array(["F", "O"]), rows),
        "l_shipdate": _times(rng, rows),
    }


def small_table(rng, name: str, rows: int) -> dict[str, pa.Array]:
    keys = np.arange(1, rows + 1)
    if name == "region":
        return {"r_regionkey": _ints(keys - 1), "r_name": _words(rng, rows, 1, 2)}
    if name == "nation":
        return {"n_nationkey": _ints(keys - 1), "n_name": _words(rng, rows, 1, 2),
                "n_regionkey": _ints(rng.integers(0, 5, rows))}
    if name == "customer":
        return {"c_custkey": _ints(keys), "c_name": _labels("Customer", keys),
                "c_nationkey": _ints(rng.integers(0, 25, rows)),
                "c_acctbal": _money(rng.integers(-99_999, 999_999, rows)),
                "c_mktsegment": _pick(rng, SEGMENTS, rows)}
    if name == "supplier":
        return {"s_suppkey": _ints(keys), "s_name": _labels("Supplier", keys),
                "s_nationkey": _ints(rng.integers(0, 25, rows)),
                "s_acctbal": _money(rng.integers(-99_999, 999_999, rows))}
    if name == "part":
        return {"p_partkey": _ints(keys), "p_name": _words(rng, rows, 3, 5),
                "p_brand": pc.binary_join_element_wise(
                    pa.array(["Brand"] * rows), _ints(rng.integers(11, 56, rows)), "#"),
                "p_type": _pick(rng, TYPES, rows), "p_size": _ints(rng.integers(1, 51, rows)),
                "p_retailprice": _money(rng.integers(90_000, 210_000, rows))}
    if name == "documents":
        text = _words(rng, rows, 8, 40)
        return {"doc_id": _ints(keys), "text": text, "lang": _pick(rng, LANGS, rows),
                "source": _pick(rng, SOURCES, rows),
                "n_chars": pc.cast(pc.utf8_length(text), pa.string())}
    if name == "orders":
        return {"o_orderkey": _ints(keys), "o_custkey": _ints(rng.integers(1, 15_001, rows)),
                "o_orderstatus": _pick(rng, np.array(["F", "O", "P"]), rows),
                "o_totalprice": _money(rng.integers(90_000, 50_000_000, rows)),
                "o_orderdate": _times(rng, rows), "o_orderpriority": _pick(rng, PRIORITIES, rows)}
    raise ValueError(f"unknown table {name!r}")


def _lit(n: int, text: str) -> pa.Array:
    return pc.take(pa.array([text]), pa.array(np.zeros(n, dtype=np.int8)))


def _rows(cols, kinds, quote: str, sep: str) -> pa.Array:
    n = len(cols[0])
    q = _lit(n, quote)
    parts = [
        pc.binary_join_element_wise(q, c, q, "") if k in "st" else c
        for c, k in zip(cols, kinds)
    ]
    return pc.binary_join_element_wise(*parts, sep)


def _write_text(f, pieces: list[pa.Array]) -> None:
    """Write the element-wise concatenation of ``pieces`` straight from
    the Arrow data buffer (no per-row Python strings)."""
    arr = pc.binary_join_element_wise(*pieces, "")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    lo, hi = offsets[arr.offset], offsets[arr.offset + len(arr)]
    f.write(memoryview(arr.buffers()[2])[lo:hi])


def write_csv(path: str, name: str, cols: dict[str, pa.Array]) -> None:
    spec = DDL[name][0]
    lines = _rows([cols[c] for c, _, _ in spec], [k for _, _, k in spec], '"', ",")
    with open(path, "wb") as f:
        f.write((",".join(c for c, _, _ in spec) + "\n").encode())
        _write_text(f, [lines, _lit(len(lines), "\n")])


def write_sql(path: str, name: str, cols: dict[str, pa.Array], batch: int = 1000) -> None:
    spec = DDL[name][0]
    rows = _rows([cols[c] for c, _, _ in spec], [k for _, _, k in spec], "'", ",")
    pos = np.arange(len(rows))
    first = (pos % batch == 0).astype(np.int8)
    last = ((pos % batch == batch - 1) | (pos == len(rows) - 1)).astype(np.int8)
    head = pc.take(pa.array(["(", f"INSERT INTO `{name}` VALUES\n("]), pa.array(first))
    tail = pc.take(pa.array(["),\n", ");\n"]), pa.array(last))
    with open(path, "wb") as f:
        f.write(b"/*!40101 SET NAMES binary*/;\n")
        _write_text(f, [head, rows, tail])


def schema_sql(name: str) -> str:
    spec, pk = DDL[name]
    body = ",\n".join(f"  {c} {t}" for c, t, _ in spec)
    return f"CREATE TABLE `{name}` (\n{body},\n  PRIMARY KEY ({', '.join(pk)})\n);\n"


def digest_sql(relation: str, exprs: list[str]) -> str:
    """Order-independent digest of a relation whose columns are given as
    canonical VARCHAR expressions: row count, XOR and 32-bit sum of the
    per-row hash. Shared by the expected (source) and actual sides."""
    row = f"hash(concat_ws('|', {', '.join(exprs)}))"
    return (
        f"SELECT count(*), bit_xor({row}), sum({row} % 4294967296)::HUGEINT "
        f"FROM {relation}"
    )


class Digest:
    """Accumulates the expected digest of one table across its files."""

    def __init__(self):
        self.rows, self.xor, self.sum = 0, 0, 0

    def add(self, con, cols: dict[str, pa.Array]) -> None:
        tbl = pa.table(cols)  # noqa: F841  (read by DuckDB's replacement scan)
        names = [f'"{c}"' for c in cols]
        n, x, s = con.execute(digest_sql("tbl", names)).fetchone()
        self.rows, self.xor, self.sum = self.rows + n, self.xor ^ (x or 0), self.sum + int(s or 0)

    def as_dict(self) -> dict:
        return {"rows": self.rows, "xor": self.xor, "sum": self.sum}


def generate(root: str, seed: int, layout: dict) -> dict:
    """Write one dump into ``root`` and return its manifest.

    ``layout`` is ``{"format": "csv"|"sql", "dbs": [...], "tables":
    {name: rows}, "copies": {name: n}}``: each table of ``tables`` is
    written to every db, as ``copies[name]`` files (default 1). The
    manifest maps ``db.table`` to its expected digest and records the
    source bytes and rows. A finished dump has ``<root>.manifest.json``
    beside it; calling again with the same arguments reuses the dump.
    """
    import duckdb

    mpath = root.rstrip("/") + ".manifest.json"
    want = {"seed": seed, "layout": layout}
    if os.path.exists(mpath):
        with open(mpath) as f:
            man = json.load(f)
        if man.get("key") == want:
            return man
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = np.random.default_rng(seed % 2**64)
    fmt = layout["format"]
    con = duckdb.connect()
    tables, total_bytes, total_rows = {}, 0, 0
    for db in layout["dbs"]:
        with open(os.path.join(root, f"{db}-schema-create.sql"), "w") as f:
            f.write(f"CREATE DATABASE IF NOT EXISTS `{db}`;\n")
        for name, rows in layout["tables"].items():
            with open(os.path.join(root, f"{db}.{name}-schema.sql"), "w") as f:
                f.write(schema_sql(name))
            copies = layout.get("copies", {}).get(name, 1)
            dig = Digest()
            for k in range(copies):
                cols = lineitem(rng, rows, k) if name == "lineitem" else small_table(rng, name, rows)
                dig.add(con, cols)
                path = os.path.join(root, f"{db}.{name}.{k:03d}.{fmt}")
                (write_csv if fmt == "csv" else write_sql)(path, name, cols)
                total_bytes += os.path.getsize(path)
            total_rows += dig.rows
            tables[f"{db}.{name}"] = dig.as_dict()
    con.close()
    man = {"key": want, "tables": tables, "bytes": total_bytes, "rows": total_rows}
    with open(mpath, "w") as f:
        json.dump(man, f)
    return man


if __name__ == "__main__":
    # python3 gen.py ROOT SEED LAYOUT_JSON  -> writes the dump, prints its manifest path
    import sys

    root, seed, layout = sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3])
    generate(root, seed, layout)
    print(root.rstrip("/") + ".manifest.json")
