"""Every oracle-paired query against its DuckDB oracle, one case each.

Each case runs ``tools/check_oracle.compare`` (row count, schema,
order-insensitive values, engine-native typed frames) on the session
Spark fixture against DuckDB views over the sf0.001 fixture.

Two guards keep a green case from being vacuous:

- the DuckDB views' table cardinalities must equal the pinned fixture
  volumes before any comparison runs (both engines read the same files,
  so a truncated fixture would make them agree on the wrong data);
- a query whose oracle returns no rows at sf0.001 is compared at sf0.01
  instead, and one that is empty at both scales fails.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import check_oracle  # noqa: E402
from fixture_volumes import expected_for  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def oracle_cons(sf_dir):
    """DuckDB connections per fixture dir, smallest scale first, each
    volume-pinned before any comparison uses it."""
    cons = {}
    for d in (sf_dir, str(Path(sf_dir).with_name("sf0.01"))):
        con = check_oracle.connect(d)
        pins = expected_for(d)
        assert pins, f"no pinned volumes for {d}"
        bad = check_oracle.volume_failures(con, pins)
        if bad:
            pytest.fail(f"fixture volume mismatch under {d}: {bad}")
        cons[d] = con
    return cons


@pytest.mark.parametrize("name", list(ORACLES))
def test_matches_oracle(spark, oracle_cons, name):
    for sf, con in oracle_cons.items():
        if con.sql(ORACLES[name]).fetchone() is not None:
            break
    else:
        pytest.fail(f"{name}: oracle is empty at {list(oracle_cons)}")
    problems = check_oracle.compare(spark, con, name, sf)
    assert not problems, f"{name} at {sf}: " + "; ".join(problems)
