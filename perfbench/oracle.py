"""Result checks against DuckDB.

``aggregate_sql`` restates the engine's documented ``aggregate_pq``
semantics in DuckDB SQL: sample ``std``, ``one`` = MIN, ``count_na`` = null
count, pass-through returns the sorted requested input columns, and columns
absent from the file are spliced as 0.0 (measures) or -1 (dimensions).
``same_table`` compares two result tables without regard to row or column
order, with a relative tolerance for floats (the engines sum in different
orders).
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np
import pyarrow as pa

#: values the engine splices in for columns a file lacks
MEASURE_FILL = 0.0
DIM_FILL = -1

_AGG_SQL = {
    "sum": "SUM({c})",
    "mean": "AVG({c})",
    "std": "STDDEV_SAMP({c})",
    "count": "COUNT({c})",
    "count_na": "COUNT(CASE WHEN {c} IS NULL THEN 1 END)",
    "count_distinct": "COUNT(DISTINCT {c})",
    "min": "MIN({c})",
    "max": "MAX({c})",
    "one": "MIN({c})",
}

_CMP_SQL = {"=": "=", "!=": "<>", ">": ">", ">=": ">=", "<": "<", "<=": "<="}


def _qi(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(v: Any) -> str:
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _measures(measures: Sequence[Any]) -> list[list[str]]:
    """``'m'`` / ``['m', op]`` / ``['m', op, out]`` as ``[m, op, out]``."""
    out = []
    for m in measures:
        if isinstance(m, str):
            out.append([m, "sum", m])
        elif len(m) == 2:
            out.append([m[0], m[1], m[0]])
        else:
            out.append(list(m))
    return out


def aggregate_sql(
    source: str,
    columns: set[str],
    groupby: Sequence[str],
    measures: Sequence[Any],
    filters: Sequence[Sequence[Any]],
    aggregate: bool,
) -> str | None:
    """DuckDB SQL answering the spec, or None when the answer is the empty
    result (a filter names a column the files lack, or nothing is live)."""
    ms = _measures(measures)
    if any(f[0] not in columns for f in filters):
        return None
    live_g = [g for g in groupby if g in columns]
    live_m = [m for m in ms if m[0] in columns]
    if aggregate and not live_g and not live_m:
        return None
    result = set(groupby) | {m[2] for m in ms}
    if aggregate:
        select = [_qi(g) for g in live_g] + [
            f"{_AGG_SQL[op].format(c=_qi(col))} AS {_qi(out)}" for col, op, out in live_m
        ]
        engine = live_g + [m[2] for m in live_m]
        group = f" GROUP BY {', '.join(_qi(g) for g in live_g)}" if live_g and live_m else ""
        distinct = "" if live_m else "DISTINCT "
    else:
        engine = sorted({*live_g, *(m[0] for m in live_m)})
        select = [_qi(c) for c in engine]
        group, distinct = "", ""
    cols = [s for c, s in zip(engine, select) if c in result]
    cols += [f"CAST({MEASURE_FILL!r} AS DOUBLE) AS {_qi(out)}" for _, _, out in ms if out not in engine]
    cols += [f"{DIM_FILL} AS {_qi(g)}" for g in groupby if g not in engine]
    where = []
    for col, op, value in filters:
        if op in ("in", "not in"):
            neg = "NOT " if op == "not in" else ""
            where.append(f"{_qi(col)} {neg}IN ({', '.join(_lit(v) for v in value)})")
        else:
            where.append(f"{_qi(col)} {_CMP_SQL[op]} {_lit(value)}")
    sql = f"SELECT {distinct}{', '.join(cols)} FROM {source}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    return sql + group


def duckdb_answer(con, source: str, columns: set[str], spec: dict) -> pa.Table:
    """The oracle's answer to ``spec`` over the DuckDB relation ``source``."""
    sql = aggregate_sql(
        source, columns, spec["groupby"], spec["measures"], spec["filters"], spec["aggregate"]
    )
    if sql is None:
        return pa.table({})
    return con.sql(sql).arrow()


def _sorted(table: pa.Table) -> pa.Table:
    names = sorted(table.column_names)
    table = table.select(names)
    return table.sort_by([(n, "ascending") for n in names]) if table.num_rows else table


def same_table(got: pa.Table, want: pa.Table, rel: float = 1e-7) -> str | None:
    """None when equal; else a one-line reason.  Rows are matched after
    sorting on every column; float columns compare within ``rel``."""
    if want.num_columns == 0:
        return None if got.num_rows == 0 else f"expected no rows, got {got.num_rows}"
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {sorted(got.column_names)} != {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != {want.num_rows}"
    got, want = _sorted(got), _sorted(want)
    for name in got.column_names:
        g, w = got.column(name), want.column(name)
        if pa.types.is_floating(g.type) or pa.types.is_floating(w.type):
            gv = np.asarray(g.to_numpy(zero_copy_only=False), dtype=float)
            wv = np.asarray(w.to_numpy(zero_copy_only=False), dtype=float)
            same = np.isclose(gv, wv, rtol=rel, atol=1e-9, equal_nan=True)
        else:
            same = np.array([a == b for a, b in zip(g.to_pylist(), w.to_pylist())], dtype=bool)
        if not same.all():
            i = int(np.argmin(same))
            return f"column {name} row {i}: {g[i].as_py()!r} != {w[i].as_py()!r}"
    return None


def canonical_rows(names: Sequence[str], rows: Sequence[Sequence[Any]]) -> list[tuple]:
    """Registry results: exact values, columns in name order, rows sorted
    (the registry's oracles round on both sides, so equality is exact)."""

    def c(v):
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(c(x) for x in v)
        return v

    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(c(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))
