"""Tests of the benchmark's own code: seeded inputs, the tail rule and the
oracle check.  They need pyarrow, numpy and duckdb, not Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools

import duckdb
import pyarrow as pa
import pytest

from perfbench import fixtures, oracle, specs, stats


def _stream(seed: int, n: int = 300) -> list[str]:
    return [specs.spec_key(op) for op in itertools.islice(specs.dashboard_ops(seed), n)]


def test_same_seed_same_spec_stream():
    assert _stream(7) == _stream(7)
    assert specs.registry_pass(7, 3) == specs.registry_pass(7, 3)


def test_other_seed_other_spec_stream():
    assert _stream(7) != _stream(8)
    passes = lambda seed: [specs.registry_pass(seed, p) for p in range(6)]  # noqa: E731
    assert passes(7) != passes(8)


def test_same_seed_same_fixture_bytes(tmp_path):
    a, _ = fixtures.ensure_dashboard(str(tmp_path / "a"), seed=5)
    b, _ = fixtures.ensure_dashboard(str(tmp_path / "b"), seed=5)
    c, _ = fixtures.ensure_dashboard(str(tmp_path / "c"), seed=6)
    digest = lambda paths: [fixtures.sha256(p) for p in paths]  # noqa: E731
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)


def test_fixture_reused_only_when_byte_identical(tmp_path):
    d = str(tmp_path / "d")
    paths, info = fixtures.ensure_dashboard(d, seed=5)
    assert not info["reused"]
    _, info = fixtures.ensure_dashboard(d, seed=5)
    assert info["reused"]
    with open(paths[0], "r+b") as fh:
        fh.seek(100)
        fh.write(b"\xff")
    _, info = fixtures.ensure_dashboard(d, seed=5)
    assert not info["reused"]
    _, info = fixtures.ensure_dashboard(d, seed=6)
    assert not info["reused"]


def test_dashboard_stream_mix_is_fixed():
    """Every cycle of the schedule repeats warm panels and drill-downs and
    adds keys never seen before, in the same proportions for every seed."""
    for seed in (3, 4):
        seen = {specs.spec_key(op) for op in specs.dashboard_warm()}
        ops = list(itertools.islice(specs.dashboard_ops(seed), 500))
        for i, op in enumerate(ops):
            kind = specs.CYCLE[i % len(specs.CYCLE)]
            key = specs.spec_key(op)
            assert (key in seen) == (kind != "F"), (i, kind)
            assert op["aggregate"] == (kind != "D")
            seen.add(key)


def test_dashboard_stream_survives_exhausted_domains(monkeypatch):
    """Once a shape has no unseen key left, its F ops repeat a key instead
    of drawing forever."""
    tiny = [
        ("one_value", lambda r: (["l_returnflag"], [["l_quantity", "sum"]], [])),
        ("two_values", lambda r: (["l_returnflag"], [["l_quantity", "sum"]], [["l_month", "<", r.randint(1, 2)]])),
    ]
    monkeypatch.setattr(specs, "_SHAPES", tiny)
    monkeypatch.setattr(specs, "HOT_KEYS", 2)
    monkeypatch.setattr(specs, "MAX_REDRAWS", 50)
    ops = list(itertools.islice(specs.dashboard_ops(1), 200))
    f_keys = [specs.spec_key(op) for i, op in enumerate(ops) if specs.CYCLE[i % len(specs.CYCLE)] == "F"]
    assert len(f_keys) == 40
    assert len(set(f_keys)) <= 2 * 2 * fixtures.DASHBOARD_FILES


def test_dashboard_stream_keys_stay_new_for_thousands_of_ops():
    """Every real shape has enough keys that F ops stay new far beyond the
    ops a run makes today."""
    seen = {specs.spec_key(op) for op in specs.dashboard_warm()}
    for i, op in enumerate(itertools.islice(specs.dashboard_ops(2), 3000)):
        key = specs.spec_key(op)
        assert (key in seen) == (specs.CYCLE[i % len(specs.CYCLE)] != "F"), i
        seen.add(key)


@pytest.mark.parametrize("n", [20, 21, 37, 60, 99, 100, 101, 150, 333, 1000, 5000])
def test_tail_percentile_is_highest_with_ten_beyond(n):
    values = [float(v) for v in range(n)]
    p = stats.tail_percentile(n)
    assert stats.beyond(values, p) >= stats.TAIL_BEYOND
    if p < 99:
        assert stats.beyond(values, p + 1) < stats.TAIL_BEYOND


@pytest.mark.parametrize("n", [1, 5, 10, 19])
def test_tail_percentile_falls_back_to_median_for_few_samples(n):
    assert stats.tail_percentile(n) == 50


def test_percentile_matches_linear_interpolation():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 90) == 5.0
    assert stats.percentile([0.0, 10.0], 25) == 2.5


@pytest.fixture()
def source(tmp_path):
    import numpy as np

    path = str(tmp_path / "f.parquet")
    fixtures.write_table(fixtures.lineitem_table(np.random.default_rng(1), 5_000), path)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE f AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


_SPEC = {
    "groupby": ["l_returnflag", specs.MISSING_DIM],
    "measures": [["l_quantity", "sum"], ["l_extendedprice", "std"], [specs.MISSING_MEASURE, "sum"]],
    "filters": [["l_month", "<=", 40], ["l_shipmode", "in", ["AIR", "MAIL"]]],
    "aggregate": True,
}


def test_oracle_accepts_the_right_answer(source):
    want = oracle.duckdb_answer(source, "f", fixtures.COLUMNS, _SPEC)
    assert want.num_rows == 3
    assert set(want.column(specs.MISSING_DIM).to_pylist()) == {oracle.DIM_FILL}
    assert set(want.column(specs.MISSING_MEASURE).to_pylist()) == {oracle.MEASURE_FILL}
    shuffled = want.take([2, 0, 1]).select(list(reversed(want.column_names)))
    assert oracle.same_table(shuffled, want) is None


def _replace(table: pa.Table, name: str, values) -> pa.Table:
    i = table.column_names.index(name)
    return table.set_column(i, name, pa.array(values, table.column(name).type))


def test_oracle_flags_a_wrong_result(source):
    want = oracle.duckdb_answer(source, "f", fixtures.COLUMNS, _SPEC)
    sums = want.column("l_quantity").to_pylist()
    off_by_one = _replace(want, "l_quantity", [sums[0] + 1.0, *sums[1:]])
    assert "l_quantity" in oracle.same_table(off_by_one, want)
    assert "rows" in oracle.same_table(want.slice(0, 2), want)
    assert "columns" in oracle.same_table(want.drop_columns([specs.MISSING_DIM]), want)
    flags = want.column("l_returnflag").to_pylist()
    swapped = _replace(want, "l_returnflag", [flags[1], flags[0], flags[2]])
    assert oracle.same_table(swapped, want) is not None


def test_oracle_empty_answer_when_a_filter_column_is_missing(source):
    spec = dict(_SPEC, filters=[[specs.MISSING_DIM, "=", 1]])
    want = oracle.duckdb_answer(source, "f", fixtures.COLUMNS, spec)
    assert want.num_columns == 0
    assert oracle.same_table(pa.table({"l_returnflag": pa.array([], pa.null())}), want) is None
    assert oracle.same_table(pa.table({"l_returnflag": ["A"]}), want) is not None


def test_oracle_pass_through_returns_sorted_input_columns(source):
    spec = {"groupby": ["l_orderkey"], "measures": ["l_quantity", ["l_tax", "sum", "renamed"]],
            "filters": [["l_returnflag", "=", "R"]], "aggregate": False}
    want = oracle.duckdb_answer(source, "f", fixtures.COLUMNS, spec)
    assert want.column_names == ["l_orderkey", "l_quantity", "renamed"]
    assert set(want.column("renamed").to_pylist()) == {0.0}
