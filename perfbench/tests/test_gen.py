"""The seeded generator: same seed, same inputs; other seed, other inputs."""

import gen
from workloads import EXCLUDED_MEMOISED, TRIMMED, WORKLOADS


def test_same_seed_same_plan():
    ops = WORKLOADS["warehouse_scan"]["ops"]
    assert gen.plan(ops, 7, 5, 8) == gen.plan(ops, 7, 5, 8)


def test_other_seed_other_plan():
    ops = WORKLOADS["warehouse_scan"]["ops"]
    a, b = gen.plan(ops, 7, 5, 8), gen.plan(ops, 8, 5, 8)
    assert a["pass_orders"] != b["pass_orders"]
    assert a["fleet_groups"] != b["fleet_groups"]


def test_plan_shape():
    ops = WORKLOADS["llm_curation"]["ops"]
    p = gen.plan(ops, 3, 4, 8)
    assert len(p["pass_orders"]) == 4
    assert all(sorted(o) == sorted(ops) for o in p["pass_orders"])
    assert len(set(p["fleet_groups"])) == 8


def test_tables_deterministic_and_seed_independent_of_plan():
    a, b = gen.tables(), gen.tables()
    for name, t in a.items():
        assert t.equals(b[name]), name
    assert a["lineitem"].num_rows == gen.ROWS["lineitem"]


def test_workload_lists_are_disjoint():
    for w, spec in WORKLOADS.items():
        assert not set(spec["ops"]) & set(TRIMMED.get(w, ())), w
        assert not set(spec["ops"]) & set(EXCLUDED_MEMOISED), w
