"""Oracle type-surface guard — the round-6 root-cause regression test.

The four round-4/5 driver hash mismatches (dedup_chunk_crossdoc,
text_unigram_lm_score, text_bigram_lm_score, curation_pipeline_v3)
were EXACTLY the four oracles whose final projection contained a
DuckDB HUGEINT column: DuckDB's SUM over integer types widens to
HUGEINT (int128), and HUGEINT's pandas/Python conversion is
DuckDB-version-dependent — identical on this container's DuckDB,
different on the driver's.  Every driver-green oracle had zero
HUGEINT outputs (plain DOUBLEs pass fine).  The fix is to CAST every
integer aggregate in the final projection back to BIGINT; this test
pins that invariant for all current and future oracles.

DESCRIBE also binds and plans the query, so this doubles as a
parse/bind compatibility check of every oracle against DuckDB
without executing it.
"""

from __future__ import annotations

import duckdb
import pytest

from trafik_etl_modular_spark.constants import FIXTURE_TABLES
from trafik_etl_modular_spark.registry import DRIVER_SF_DIR, REGISTRY, _load_all

_BANNED = ("HUGEINT",)  # covers UHUGEINT via substring match


@pytest.fixture(scope="module")
def oracle_types():
    _load_all()
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{DRIVER_SF_DIR}/{t}.parquet')"
        )
    out = {}
    for name, q in REGISTRY.items():
        sql = q.render_sql(DRIVER_SF_DIR)
        if sql is None:
            continue
        out[name] = {c: t for c, t, *_ in con.execute(f"DESCRIBE {sql}").fetchall()}
    con.close()
    return out


def test_every_oracle_binds_in_duckdb(oracle_types):
    # DESCRIBE raising would have failed the fixture; assert the
    # registry's oracle-bearing surface is non-trivial and intact.
    assert len(oracle_types) >= 160


def test_no_oracle_emits_hugeint(oracle_types):
    offenders = {
        name: [c for c, t in cols.items() if any(b in t for b in _BANNED)]
        for name, cols in oracle_types.items()
    }
    offenders = {n: cs for n, cs in offenders.items() if cs}
    assert not offenders, (
        "HUGEINT in oracle final projection — DuckDB-version-dependent "
        f"pandas conversion broke the driver hash before: {offenders}"
    )


# The complete type surface every oracle is allowed to emit: plain
# fixed-width primitives whose DuckDB→pandas conversion has been
# stable across versions.  DECIMAL deliberately excluded (it converts
# to object/float inconsistently), as is every nested/exotic type —
# a new query emitting one fails here before it can fail on the
# driver.
_ALLOWED = {
    "BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE",
    "TIMESTAMP", "TIMESTAMP_NS",
}


def test_oracle_type_surface_is_allowlisted(oracle_types):
    offenders = {
        name: [(c, t) for c, t in cols.items() if t.split("(")[0] not in _ALLOWED]
        for name, cols in oracle_types.items()
    }
    offenders = {n: cs for n, cs in offenders.items() if cs}
    assert not offenders, f"oracle emits non-allowlisted output type: {offenders}"


def test_spark_and_oracle_column_names_match(registry_plans, oracle_types):
    """Alias drift is the #1 driver hash-mismatch class (the compare
    sorts columns BY NAME before hashing): catch it at plan time, per
    query, instead of at sweep time.  Streaming / Python-source
    queries execute eagerly and are covered by the sweep instead."""
    _load_all()
    plans = registry_plans(DRIVER_SF_DIR)
    mismatches = {}
    for name, cols in oracle_types.items():
        if name.startswith(("streaming_", "source_xml")):
            continue
        columns = plans[name].schema.names
        if sorted(columns) != sorted(cols):
            mismatches[name] = (sorted(columns), sorted(cols))
    assert not mismatches, f"Spark/oracle column-name drift: {mismatches}"
