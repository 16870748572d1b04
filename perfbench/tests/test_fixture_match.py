"""The generated tables against the repository's sf0.01 fixture tables,
where those are present: the same tables, schemas (parquet types
included), row counts and, column by column, nearly the same number of
distinct values. The fixture directory is ``PERFBENCH_FIXTURE_DIR`` or
else the sf0.01 directory listed in ``TESTDATA.md``."""

import os
import re

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fixture_dir() -> str | None:
    if os.environ.get("PERFBENCH_FIXTURE_DIR"):
        return os.environ["PERFBENCH_FIXTURE_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.01\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        return None
    return m.group(1) if m else None


FIXTURES = _fixture_dir()
pytestmark = pytest.mark.skipif(
    not FIXTURES or not os.path.isdir(FIXTURES), reason="no sf0.01 fixture tables here"
)


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    return gen.write_tables(str(tmp_path_factory.mktemp("gen")))


def _parquet_types(path: str) -> list[tuple]:
    s = pq.ParquetFile(path).schema
    return [
        (s.column(i).path, s.column(i).physical_type, str(s.column(i).logical_type))
        for i in range(len(s))
    ]


def test_same_tables():
    have = {f[: -len(".parquet")] for f in os.listdir(FIXTURES) if f.endswith(".parquet")}
    assert have == set(gen.tables())


@pytest.mark.parametrize("name", sorted(gen.tables()))
def test_table_matches_fixture(name, generated):
    fix_path = os.path.join(FIXTURES, f"{name}.parquet")
    gen_path = os.path.join(generated, f"{name}.parquet")
    fix, ours = pq.read_table(fix_path), pq.read_table(gen_path)
    assert ours.schema == fix.schema
    assert _parquet_types(gen_path) == _parquet_types(fix_path)
    assert ours.num_rows == fix.num_rows
    for col in fix.column_names:
        if fix.schema.field(col).type.num_fields:  # list columns have no distinct count
            continue
        want, got = len(pc.unique(fix[col])), len(pc.unique(ours[col]))
        assert abs(got - want) <= 0.05 * want, (col, got, want)
