"""aggregate_pq correctness: DuckDB-differential on deterministic synthetic
data (test model per SURVEY.md §5 styles 1-3, with the reference suite's
caveats fixed: real count_distinct assertions, string filters, count_na
coverage, explicit empty-result shape checks)."""

import os

import duckdb
import pyarrow as pa
import pytest

from parquery_spark import aggregate_pq
from tests.conftest import assert_matches_duckdb


@pytest.fixture(scope="module")
def syn(synthetic_pq):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{synthetic_pq}')")
    return con


@pytest.fixture(scope="module")
def syn_nulls(synthetic_nulls_pq):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{synthetic_nulls_pq}')"
    )
    return con


class TestGroupbyOps:
    def test_sum_default(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f0"], ["f3"])
        assert_matches_duckdb(r, syn, "SELECT f0, SUM(f3) AS f3 FROM t GROUP BY f0")

    def test_multi_dim_multi_measure(self, synthetic_pq, syn):
        r = aggregate_pq(
            synthetic_pq,
            ["f0", "f1"],
            [["f3", "sum", "s3"], ["f4", "mean", "m4"], ["f4", "max", "x4"]],
        )
        assert_matches_duckdb(
            r,
            syn,
            "SELECT f0, f1, SUM(f3) AS s3, AVG(f4) AS m4, MAX(f4) AS x4 "
            "FROM t GROUP BY f0, f1",
        )

    def test_mean(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f1"], [["f3", "mean"]])
        assert_matches_duckdb(r, syn, "SELECT f1, AVG(f3) AS f3 FROM t GROUP BY f1")

    def test_stddev_is_sample(self, synthetic_pq, syn):
        # ddof pin: sample stddev, matching the reference's DuckDB engine
        # (its PyArrow engine used population — SURVEY.md §2.3 A3)
        r = aggregate_pq(synthetic_pq, ["f0"], [["f3", "std"]])
        assert_matches_duckdb(
            r, syn, "SELECT f0, STDDEV_SAMP(f3) AS f3 FROM t GROUP BY f0"
        )

    def test_count_nonnull(self, synthetic_nulls_pq, syn_nulls):
        r = aggregate_pq(synthetic_nulls_pq, ["f0"], [["f4", "count", "c"]])
        assert_matches_duckdb(
            r, syn_nulls, "SELECT f0, COUNT(f4) AS c FROM t GROUP BY f0"
        )

    def test_count_na_counts_nulls(self, synthetic_nulls_pq, syn_nulls):
        # README semantics; broken in both reference engines (SURVEY §2.3 A5)
        r = aggregate_pq(synthetic_nulls_pq, ["f0"], [["f4", "count_na", "n"]])
        assert_matches_duckdb(
            r,
            syn_nulls,
            "SELECT f0, COUNT(CASE WHEN f4 IS NULL THEN 1 END) AS n "
            "FROM t GROUP BY f0",
        )

    def test_count_distinct_excludes_nulls(self, synthetic_nulls_pq, syn_nulls):
        r = aggregate_pq(synthetic_nulls_pq, ["f0"], [["f4", "count_distinct", "d"]])
        assert_matches_duckdb(
            r, syn_nulls, "SELECT f0, COUNT(DISTINCT f4) AS d FROM t GROUP BY f0"
        )

    def test_sorted_count_distinct_alias(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f1", "sorted_count_distinct", "d"]])
        assert_matches_duckdb(
            r, syn, "SELECT f0, COUNT(DISTINCT f1) AS d FROM t GROUP BY f0"
        )

    def test_min_max(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f3", "min", "lo"], ["f3", "max", "hi"]])
        assert_matches_duckdb(
            r, syn, "SELECT f0, MIN(f3) AS lo, MAX(f3) AS hi FROM t GROUP BY f0"
        )

    def test_one_is_deterministic_min(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f6", "one", "pick"]])
        assert_matches_duckdb(
            r, syn, "SELECT f0, MIN(f6) AS pick FROM t GROUP BY f0"
        )

    def test_string_group_key(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f6"], [["f4", "sum"]])
        assert_matches_duckdb(r, syn, "SELECT f6, SUM(f4) AS f4 FROM t GROUP BY f6")

    def test_int32_group_key(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f2"], [["f4", "sum"]])
        assert_matches_duckdb(r, syn, "SELECT f2, SUM(f4) AS f4 FROM t GROUP BY f2")

    def test_global_aggregation_no_groupby(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, [], [["f3", "sum", "s"], ["f4", "mean", "m"]])
        assert r.num_rows == 1
        assert_matches_duckdb(r, syn, "SELECT SUM(f3) AS s, AVG(f4) AS m FROM t")

    def test_invalid_op_raises(self, synthetic_pq):
        with pytest.raises(NotImplementedError, match="valid operations"):
            aggregate_pq(synthetic_pq, ["f0"], [["f3", "frobnicate"]])

    def test_median_extension_op(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f3", "median", "med"]])
        assert_matches_duckdb(
            r, syn, "SELECT f0, median(f3) AS med FROM t GROUP BY f0"
        )


class TestFilters:
    CASES = [
        ([["f1", ">", 5]], "f1 > 5"),
        ([["f1", ">=", 5]], "f1 >= 5"),
        ([["f1", "<", 5]], "f1 < 5"),
        ([["f1", "<=", 5]], "f1 <= 5"),
        ([["f1", "==", 5]], "f1 = 5"),
        ([["f1", "=", 5]], "f1 = 5"),
        ([["f1", "!=", 5]], "f1 != 5"),
        ([["f1", "in", [1, 3, 5]]], "f1 IN (1, 3, 5)"),
        ([["f1", "not in", [1, 3, 5]]], "f1 NOT IN (1, 3, 5)"),
        ([["f1", "nin", [1, 3, 5]]], "f1 NOT IN (1, 3, 5)"),
        ([["f1", "in", 7]], "f1 IN (7)"),  # scalar tolerated
        ([["f1", ">", 2], ["f2", "==", 1]], "f1 > 2 AND f2 = 1"),  # AND-fold
        # string filters: broken on the reference's DuckDB engine (SURVEY §4)
        ([["f0", "==", "g1"]], "f0 = 'g1'"),
        ([["f0", "in", ["g1", "g2"]]], "f0 IN ('g1', 'g2')"),
        ([["f6", "not in", ["x"]]], "f6 NOT IN ('x')"),
    ]

    @pytest.mark.parametrize("data_filter,where", CASES)
    def test_filter_matches_oracle(self, synthetic_pq, syn, data_filter, where):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum", "s"]], data_filter)
        assert_matches_duckdb(
            r, syn, f"SELECT f0, SUM(f4) AS s FROM t WHERE {where} GROUP BY f0"
        )

    def test_filter_on_non_result_column(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum", "s"]], [["f5", ">", 20240601]])
        assert "f5" not in r.column_names
        assert_matches_duckdb(
            r, syn,
            "SELECT f0, SUM(f4) AS s FROM t WHERE f5 > 20240601 GROUP BY f0",
        )

    def test_long_in_list(self, synthetic_pq, syn):
        vals = list(range(0, 700))
        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum", "s"]], [["f5", "in", vals]])
        # all f5 are > 20240101 so this selects nothing
        assert r.num_rows == 0

    def test_fully_filtered_result_is_empty(self, synthetic_pq):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum"]], [["f1", ">", 10_000]])
        assert r.num_rows == 0
        assert set(r.column_names) == {"f0", "f4"}


class TestPassThrough:
    def test_no_aggregation(self, synthetic_pq, syn):
        r = aggregate_pq(
            synthetic_pq, ["f0"], [["f3"], ["f4"]], [["f1", "==", 3]], aggregate=False
        )
        assert_matches_duckdb(
            r, syn, "SELECT f0, f3, f4 FROM t WHERE f1 = 3"
        )

    def test_sorted_distinct_projection(self, synthetic_pq):
        r = aggregate_pq(synthetic_pq, ["f1", "f0"], ["f4"], aggregate=False)
        assert r.column_names == ["f0", "f1", "f4"]

    def test_renamed_measure_spliced(self, synthetic_pq):
        # Pass-through with a renamed output: the raw input column is
        # dropped and the renamed output is spliced in as 0.0, matching
        # _add_missing_columns_after_engine (reference: parquery/tool.py:
        # 240-301 — 'out' is an expected measure col, 'f4' is not).
        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum", "out"]], aggregate=False)
        assert sorted(r.column_names) == ["f0", "out"]
        assert set(r.column("out").to_pylist()) == {0.0}


class TestTolerantSchema:
    def test_missing_file_returns_empty(self):
        r = aggregate_pq("/no/such/file.parquet", ["d"], [["m", "sum"]])
        assert r.num_rows == 0
        assert r.column_names == ["d", "m"]
        assert all(t == pa.null() for t in r.schema.types)

    def test_missing_file_raises_when_disabled(self):
        with pytest.raises(OSError):
            aggregate_pq(
                "/no/such/file.parquet", ["d"], [["m", "sum"]],
                handle_missing_file=False,
            )

    def test_all_columns_missing_returns_empty(self, synthetic_pq):
        r = aggregate_pq(synthetic_pq, ["ghost_d"], [["ghost_m", "sum"]])
        assert r.num_rows == 0
        assert set(r.column_names) == {"ghost_d", "ghost_m"}

    def test_filter_column_missing_returns_empty(self, synthetic_pq):
        r = aggregate_pq(
            synthetic_pq, ["f0"], [["f4", "sum"]], [["ghost", "==", 1]]
        )
        assert r.num_rows == 0
        assert set(r.column_names) == {"f0", "f4"}

    def test_missing_dim_spliced_with_sentinel(self, synthetic_pq, syn):
        r = aggregate_pq(synthetic_pq, ["f0", "ghost_dim"], [["f4", "sum", "s"]])
        assert set(r.column("ghost_dim").to_pylist()) == {-1}
        assert_matches_duckdb(
            r, syn,
            "SELECT f0, -1 AS ghost_dim, SUM(f4) AS s FROM t GROUP BY f0",
        )

    def test_missing_dim_custom_sentinel(self, synthetic_pq):
        r = aggregate_pq(
            synthetic_pq, ["f0", "ghost"], [["f4", "sum"]], standard_missing_id=-999
        )
        assert set(r.column("ghost").to_pylist()) == {-999}

    def test_missing_measure_spliced_with_zero(self, synthetic_pq):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum", "s"], ["ghost", "sum", "g"]])
        assert set(r.column("g").to_pylist()) == {0.0}

    def test_empty_file(self, tmp_path, spark):
        import pyarrow.parquet as pq

        path = str(tmp_path / "empty.parquet")
        pq.write_table(pa.table({"d": pa.array([], pa.int64()),
                                 "m": pa.array([], pa.float64())}), path)
        r = aggregate_pq(path, ["d"], [["m", "sum"]])
        assert r.num_rows == 0


class TestOutputForms:
    def test_as_df_returns_pandas(self, synthetic_pq):
        import pandas as pd

        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum"]], as_df=True)
        assert isinstance(r, pd.DataFrame)

    def test_default_returns_arrow(self, synthetic_pq):
        assert isinstance(aggregate_pq(synthetic_pq, ["f0"], ["f4"]), pa.Table)

    def test_duplicate_input_two_outputs(self, synthetic_pq, syn):
        r = aggregate_pq(
            synthetic_pq, ["f0"], [["f4", "sum", "a"], ["f4", "count", "b"]]
        )
        assert_matches_duckdb(
            r, syn, "SELECT f0, SUM(f4) AS a, COUNT(f4) AS b FROM t GROUP BY f0"
        )

    def test_bad_engine_rejected(self, synthetic_pq):
        with pytest.raises(ValueError, match="Unknown engine"):
            aggregate_pq(synthetic_pq, ["f0"], ["f4"], engine="sqlite")

    def test_engine_param_accepted_for_parity(self, synthetic_pq):
        for engine in ("auto", "spark", "duckdb", "pyarrow"):
            assert aggregate_pq(synthetic_pq, [], ["f4"], engine=engine).num_rows == 1

    def test_arrow_conversion_error_propagates_without_second_job(
        self, spark, monkeypatch
    ):
        """Only an empty NullType-schema result may fall back to the
        synthesized null table; any other conversion error is raised as
        is — no ``isEmpty()`` job re-runs the query first."""
        from parquery_spark.aggregate import _to_arrow

        df = spark.range(3)
        empties = []

        def boom(self):
            raise ValueError("arrow conversion failed")

        monkeypatch.setattr(type(df), "toArrow", boom)
        monkeypatch.setattr(
            type(df), "isEmpty", lambda self: empties.append(1) or False
        )
        with pytest.raises(ValueError, match="arrow conversion failed"):
            _to_arrow(df)
        assert empties == []

    def test_empty_nulltype_result_synthesized(self, spark, monkeypatch):
        from parquery_spark.aggregate import _to_arrow

        df = spark.sql("SELECT NULL AS a WHERE 1 = 0")

        def boom(self):
            raise ValueError("arrow conversion failed")

        monkeypatch.setattr(type(df), "toArrow", boom)
        got = _to_arrow(df)
        assert got.num_rows == 0
        assert got.schema == pa.schema([("a", pa.null())])


class TestRealData:
    """TPC-H Q1 shape on the driver's lineitem table — the reference API can
    express this exactly (SURVEY.md §7 phase 0)."""

    def test_q1_shape(self, sf_dir, duck):
        path = os.path.join(sf_dir, "lineitem.parquet")
        r = aggregate_pq(
            path,
            ["l_returnflag", "l_linestatus"],
            [
                ["l_quantity", "sum", "sum_qty"],
                ["l_extendedprice", "sum", "sum_base_price"],
                ["l_quantity", "mean", "avg_qty"],
                ["l_orderkey", "count", "count_order"],
            ],
            data_filter=[["l_shipdate", "<=", "1998-09-01"]],
        )
        assert_matches_duckdb(
            r,
            duck,
            """SELECT l_returnflag, l_linestatus,
                      SUM(l_quantity) AS sum_qty,
                      SUM(l_extendedprice) AS sum_base_price,
                      AVG(l_quantity) AS avg_qty,
                      COUNT(l_orderkey) AS count_order
               FROM lineitem
               WHERE l_shipdate <= TIMESTAMP '1998-09-01'
               GROUP BY l_returnflag, l_linestatus""",
        )


class TestDashedColumnNames:
    """The reference's natural-name tests accidentally only exercised the
    empty-result path (SURVEY.md §5 caveats); these hit the real one."""

    @pytest.fixture(scope="class")
    def dashed_pq(self, tmp_path_factory):
        import pyarrow.parquet as pq

        path = str(tmp_path_factory.mktemp("dashed") / "d.parquet")
        pq.write_table(
            pa.table({"d-1": [1, 1, 2], "m-x": [10.0, 20.0, 5.0]}), path
        )
        return path

    def test_aggregate_on_dashed_columns(self, dashed_pq):
        r = aggregate_pq(dashed_pq, ["d-1"], [["m-x", "sum", "total"]])
        got = {row["d-1"]: row["total"] for row in r.to_pylist()}
        assert got == {1: 30.0, 2: 5.0}

    def test_natural_name_roundtrip_against_file(self, dashed_pq):
        from parquery_spark import df_to_natural_name, to_natural_name

        r = aggregate_pq(dashed_pq, ["d-1"], [["m-x", "sum"]])
        nat = df_to_natural_name(r)
        assert nat.column_names == ["d_n_1", "m_n_x"]
        assert to_natural_name("d-1") == "d_n_1"

    def test_filter_on_dashed_column(self, dashed_pq):
        r = aggregate_pq(
            dashed_pq, ["d-1"], [["m-x", "sum", "t"]], [["d-1", "==", 1]]
        )
        assert r.to_pylist() == [{"d-1": 1, "t": 30.0}]


class TestMultiFormatSources:
    """CSV / JSON-lines / ORC through the same aggregate_pq surface
    (extension beyond the reference's parquet-only reader)."""

    @staticmethod
    def _expect(spark, path):
        import parquery_spark as pq_spark

        r = pq_spark.aggregate_pq(
            path, ["d"], [["m", "sum", "s"], ["m", "count", "n"]],
            data_filter=[["m", ">", 0]],
        )
        got = {row["d"]: (row["s"], row["n"]) for row in r.to_pylist()}
        assert got == {1: (30.0, 2), 2: (5.0, 1)}

    def test_csv_source(self, spark, tmp_path):
        p = str(tmp_path / "t.csv")
        with open(p, "w") as fh:
            fh.write("d,m\n1,10.0\n1,20.0\n2,5.0\n2,-1.0\n")
        self._expect(spark, p)

    def test_jsonl_source(self, spark, tmp_path):
        p = str(tmp_path / "t.jsonl")
        with open(p, "w") as fh:
            for d, m in [(1, 10.0), (1, 20.0), (2, 5.0), (2, -1.0)]:
                fh.write('{"d": %d, "m": %s}\n' % (d, m))
        self._expect(spark, p)

    def test_orc_source(self, spark, tmp_path):
        import pyarrow as pa
        from pyarrow import orc

        p = str(tmp_path / "t.orc")
        orc.write_table(
            pa.table({"d": [1, 1, 2, 2], "m": [10.0, 20.0, 5.0, -1.0]}), p
        )
        self._expect(spark, p)

    def test_missing_column_semantics_hold_for_csv(self, spark, tmp_path):
        import parquery_spark as pq_spark

        p = str(tmp_path / "t2.csv")
        with open(p, "w") as fh:
            fh.write("d,m\n1,10.0\n")
        r = pq_spark.aggregate_pq(
            p, ["d", "ghost_dim"], [["m", "sum", "s"], ["ghost_m", "sum", "g"]]
        )
        row = r.to_pylist()[0]
        assert row["s"] == 10.0 and row["g"] == 0.0 and row["ghost_dim"] == -1
        # filter on a column absent from the CSV → empty result
        r2 = pq_spark.aggregate_pq(
            p, ["d"], [["m", "sum", "s"]], data_filter=[["nope", ">", 0]]
        )
        assert r2.num_rows == 0

    def test_mixed_formats_rejected(self, spark, tmp_path):
        import pytest as _pytest

        import parquery_spark as pq_spark

        c = str(tmp_path / "a.csv")
        with open(c, "w") as fh:
            fh.write("d,m\n1,1.0\n")
        j = str(tmp_path / "b.jsonl")
        with open(j, "w") as fh:
            fh.write('{"d": 1, "m": 2.0}\n')
        with _pytest.raises(ValueError, match="mix source formats"):
            pq_spark.aggregate_pq([c, j], ["d"], [["m", "sum", "s"]])


class TestGlobInputs:
    """Glob patterns expand driver-side to a sorted literal file list
    (relations.expand_globs) and run as one mergeSchema scan."""

    def test_glob_matches_literal_path(self, synthetic_pq, syn):
        import os

        pattern = os.path.join(os.path.dirname(synthetic_pq), "*.parquet")
        r = aggregate_pq(pattern, ["f0"], [["f4", "sum", "s"]])
        assert_matches_duckdb(
            r, syn, "SELECT f0, SUM(f4) AS s FROM t GROUP BY f0"
        )

    def test_unmatched_glob_is_missing_file(self, tmp_path):
        pattern = str(tmp_path / "nope-*.parquet")
        r = aggregate_pq(pattern, ["f0"], [["f4", "sum", "s"]])
        assert r.num_rows == 0  # handle_missing_file=True -> empty result
        with pytest.raises(OSError):
            aggregate_pq(
                pattern, ["f0"], [["f4", "sum", "s"]],
                handle_missing_file=False,
            )
