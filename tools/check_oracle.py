"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given scale factor, then compares row count, schema
(column names), and order-insensitive values (exact for
strings/ints/timestamps; exact for doubles too — our queries are
engineered to be bit-deterministic cross-engine, so any float diff is
a real bug, not noise).

Usage: python tools/check_oracle.py [sf_dir] [query ...]

``tests/test_oracle.py`` runs the same ``compare`` for every paired
query at sf0.001 inside the pytest suite.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_geotab_spark.io import TABLES  # noqa: E402
from etl_geotab_spark.run import scope  # noqa: E402
from etl_geotab_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def typed_issues(spark_pdf, duck_pdf):
    """Catch the two driver-hasher failure modes the string compare
    masks (both bit us in round 4):

    - **unhashable cells** (list/ndarray/dict): the driver canonicalizes
      via pandas ``sort_values`` + value hashing, which raises
      ``unhashable type`` on object columns holding containers
      (r04 ``embedding_quantize``). Serialize arrays before returning.
    - **dtype-kind divergence**: e.g. DuckDB HUGEINT (object/float in
      pandas) vs Spark BIGINT (int64) hash differently even when values
      are numerically equal (r04 ``incremental_agg_merge``). Cast the
      oracle's aggregate.
    """
    import datetime

    import numpy as np

    issues = []
    for c in sorted(spark_pdf.columns):
        sv, dv = spark_pdf[c], duck_pdf[c]
        samples = {}
        for side, ser in (("spark", sv), ("duck", dv)):
            samples[side] = next(
                (
                    x
                    for x in ser
                    if x is not None
                    and not (isinstance(x, float) and math.isnan(x))
                ),
                None,
            )
            if ser.dtype == object and isinstance(
                samples[side], (list, dict, set, np.ndarray)
            ):
                issues.append(
                    f"{c}: {side} emits unhashable "
                    f"{type(samples[side]).__name__} cells"
                )
        if sv.dtype.kind != dv.dtype.kind:
            # Spark DATE → object(datetime.date) vs DuckDB DATE →
            # datetime64[us]: the driver hashes these equal (r04
            # retention_cohorts was green with exactly this shape).
            date_like = isinstance(
                samples["spark"], (datetime.date, datetime.datetime)
            ) and dv.dtype.kind == "M"
            if not date_like:
                issues.append(
                    f"{c}: dtype kind spark={sv.dtype} duck={dv.dtype}"
                )
    return issues


def normalize(rows, columns):
    """Canonical order-insensitive representation of a result set."""
    out = []
    for row in rows:
        vals = []
        for c in columns:
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(v))
            elif isinstance(v, (list, tuple)):
                vals.append(repr([str(x) for x in v]))
            else:
                vals.append(repr(str(v)) if v is not None else "NULL")
        out.append(tuple(vals))
    out.sort()
    return out


def volume_failures(con, pins: dict[str, int] | None) -> list[str]:
    """Compare the DuckDB views' cardinalities against the pinned
    fixture volumes; returns mismatch descriptions (empty = gate
    passes, or no pin held for this directory)."""
    if not pins:
        return []
    out = []
    for t, want in sorted(pins.items()):
        got = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        if got != want:
            out.append(f"{t}: {got} rows, pinned {want}")
    return out


def main() -> int:
    positionals = sys.argv[1:]
    sf_dir = positionals[0] if positionals else "/root/testdata/sf0.01"
    only = set(positionals[1:])

    spark = get_spark("oracle-check")
    con = connect(sf_dir)

    # §26b input-volume pin on the ORACLE side (r16 verdict item 4):
    # a truncated fixture under the DuckDB views would make the
    # oracle agree with Spark on the wrong data — both engines read
    # the same files, so the comparison alone can never catch it.
    # Pin the view cardinalities before any query runs; skip only
    # for directories fixture_volumes holds no pin for (ad-hoc test
    # fixtures), per the documented expected_for contract.
    from fixture_volumes import expected_for

    bad = volume_failures(con, expected_for(sf_dir))
    if bad:
        for msg in bad:
            print(f"FIXTURE VOLUME MISMATCH: {sf_dir}/{msg} — refusing "
                  "to run the oracle gate over a wrong-volume fixture")
        return 2

    oracles = entrymod.oracle_sql()
    failures = []
    for name in entrymod.queries():
        if only and name not in only:
            continue
        t0 = time.time()
        problems = compare(spark, con, name, sf_dir)
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        elif name not in oracles:
            print(f"ok?  {name}: rows-only ({dt:.1f}s) — no oracle")
        else:
            print(f"PASS {name} ({dt:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILED: {failures}")
        return 1
    print("all green")
    return 0


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table at sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(spark, con, name: str, sf_dir: str) -> list[str]:
    """Run query ``name`` on Spark and, if it has one, its oracle on
    ``con``; return the problems found (empty = green). A rows-only
    query is only run. Both Spark executions (the collect and the typed
    re-run, which reads any checkpoint the query pinned) run inside the
    runner's per-query scope, so its blocks are released on return."""
    oracle = entrymod.oracle_sql().get(name)
    with scope(spark, name):
        try:
            sdf = entrymod.queries()[name](spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [r.asDict() for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            return [f"spark error: {e}"]
        if oracle is None:
            return []
        try:
            rel = con.sql(oracle)
            duck_cols = rel.columns
            duck_rows = [dict(zip(duck_cols, r)) for r in rel.fetchall()]
        except Exception as e:  # noqa: BLE001
            return [f"duckdb error: {e}"]

        problems = []
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"schema spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            return problems
        cols = sorted(spark_cols)
        ns, nd = normalize(spark_rows, cols), normalize(duck_rows, cols)
        if ns != nd:
            diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
            problems.append(f"values differ; first diffs: {diffs}")
            return problems
        # engine-NATIVE typed frames (re-executes both sides):
        # rebuilding pandas frames from the collected Python rows
        # would re-infer dtypes and mask e.g. HUGEINT
        try:
            spark_pdf = sdf.toPandas()[cols]
            duck_pdf = con.sql(oracle).df()[cols]
            problems.extend(typed_issues(spark_pdf, duck_pdf))
        except Exception as e:  # noqa: BLE001
            problems.append(f"typed-frame fetch failed: {e}")
        return problems


if __name__ == "__main__":
    raise SystemExit(main())
