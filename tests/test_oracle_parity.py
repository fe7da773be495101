"""Driver-compare mimic: every queries() entry with an oracle must match
DuckDB bit-for-bit at sf0.01 (the t2 correctness gate).

Budget split (r12 verdict item 2): the FULL registry sweep pushed the
default suite past the driver's pytest window (45-48 min; the driver's
run truncated mid-suite with zero failures, turning the gate red on a
timeout). The full sweep duplicates the driver's own oracle check, so
by default this file runs a deterministic ~1-in-4 smoke subset
(crc32(name) % 4 == 0, plus every entry that has EVER failed a driver
round) and the full sweep runs only with SPARK_GRAFT_FULL_PARITY=1 —
which the in-round verify recipe always sets before shipping."""

from __future__ import annotations

import os
import zlib

import pytest

from tidb_lightning_spark.plans import queries as Q

from .conftest import SF_CORRECTNESS
from .oracle_util import assert_matches

SPECS = [s for s in Q.registry().values() if s.oracle is not None]

# Entries with driver-round history: always in the smoke subset.
_ALWAYS = {
    "kn_bigram_lm",
    "inverted_index_postings",
}

_FULL = os.environ.get("SPARK_GRAFT_FULL_PARITY", "") not in ("", "0")
SMOKE_SPECS = [
    s
    for s in SPECS
    if _FULL
    or s.name in _ALWAYS
    or zlib.crc32(s.name.encode()) % 4 == 0
]


@pytest.mark.parametrize(
    "spec", SMOKE_SPECS, ids=[s.name for s in SMOKE_SPECS]
)
def test_matches_oracle(spark, duck, spec):
    df = spec.spark(spark, SF_CORRECTNESS)
    assert_matches(df, duck, spec.oracle, name=spec.name)


def test_no_hugeint_typed_oracle_outputs(duck):
    """No oracle may emit a HUGEINT/UBIGINT-class output column: DuckDB
    SUM(BIGINT) is HUGEINT, fetchall() hides it (Python int either
    way), but a pandas fetch turns it into float64 ('947.0') and an
    Arrow fetch into decimal128 — either stringifies differently from
    Spark's long, failing a strict hash compare while rows and schema
    still match. kn_bigram_lm's c1 was exactly this for two driver
    rounds (the registry's only such column, r12); CAST every
    aggregate that reaches the output."""
    offenders = {}
    for s in SPECS:
        rel = duck.sql(s.oracle)
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT", "UBIGINT")
        ]
        if bad:
            offenders[s.name] = bad
    assert not offenders, offenders


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(entrymod.queries()) >= len(SPECS)


def test_hand_kept_name_lists_name_registry_entries():
    """Name lists kept by hand beside the registry must name real
    entries: a stale name would shrink the driver's verify window, lose
    `explain`'s eager-construction note or drop an always-run parity
    case, each without an error."""
    import __spark_entry__ as entrymod

    from tidb_lightning_spark import cli

    reg = set(Q.registry())
    prio = entrymod._DRIVER_PRIORITY
    assert len(prio) == len(set(prio)), "duplicate _DRIVER_PRIORITY names"
    assert set(prio) <= reg, sorted(set(prio) - reg)
    assert cli._EAGER <= reg, sorted(cli._EAGER - reg)
    assert _ALWAYS <= reg, sorted(_ALWAYS - reg)
