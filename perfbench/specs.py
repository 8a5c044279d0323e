"""Seeded operation streams.

An operation is a plain dict.  Query ops carry an ``aggregate_pq`` spec:
``file`` (index into the dashboard's files), ``groupby``, ``measures``,
``filters`` and ``aggregate``.  Registry ops carry ``query``.  The same seed
gives the same stream; only :mod:`random` is used, so streams do not depend
on numpy.
"""

from __future__ import annotations

import itertools
import json
import random
from typing import Iterator

from perfbench import fixtures

#: columns present in no fixture: exercise the missing-column splice
MISSING_DIM = "l_region_id"
MISSING_MEASURE = "l_margin"


def spec_key(op: dict) -> str:
    """Identity of a query op (shape, values and file), as a string."""
    fields = ("file", "groupby", "measures", "filters", "aggregate")
    return json.dumps({k: op[k] for k in fields}, sort_keys=True)


# -- dashboard --------------------------------------------------------------

_FILES = list(range(fixtures.DASHBOARD_FILES))


def _modes(rng: random.Random) -> list[str]:
    return sorted(rng.sample(fixtures.SHIPMODES, rng.randint(1, 3)))


def _window(start: int) -> list:
    return [["l_month", ">=", start], ["l_month", "<", start + 12]]


#: (shape name, builder drawing the shape's filter values)
_SHAPES = [
    ("pricing", lambda r: (
        ["l_returnflag", "l_linestatus"],
        [["l_quantity", "sum"], ["l_extendedprice", "sum"], ["l_discount", "mean"]],
        [["l_month", "<=", r.randint(6, 78)]])),
    ("by_mode", lambda r: (
        ["l_shipmode"],
        [["l_extendedprice", "sum"], ["l_quantity", "mean"]],
        [["l_returnflag", "=", r.choice(fixtures.RETURNFLAGS)], ["l_month", ">=", r.randint(1, 72)]])),
    ("spread", lambda r: (
        ["l_linenumber"],
        [["l_extendedprice", "std"]],
        [["l_shipmode", "in", _modes(r)]])),
    ("orders", lambda r: (
        ["l_returnflag"],
        [["l_orderkey", "count_distinct"]],
        [["l_discount", ">=", r.randint(0, 10) / 100.0], ["l_quantity", "<=", float(r.randint(10, 49))]])),
    ("tax_nulls", lambda r: (
        ["l_returnflag"],
        [["l_tax", "count", "tax_n"], ["l_tax", "count_na", "tax_na"], ["l_quantity", "one"]],
        [["l_linestatus", "!=", r.choice(fixtures.LINESTATUSES)], ["l_month", "<", r.randint(12, 84)]])),
    ("splice", lambda r: (
        ["l_shipmode", MISSING_DIM],
        [["l_quantity", "sum"], [MISSING_MEASURE, "sum"]],
        [["l_month", ">", r.randint(6, 78)]])),
    ("window", lambda r: (
        [],
        [["l_extendedprice", "sum"], ["l_quantity", "mean"]],
        _window(r.randint(1, 72)))),
    ("extremes", lambda r: (
        ["l_shipmode", "l_returnflag"],
        [["l_extendedprice", "max"], ["l_discount", "min"]],
        [["l_suppkey", "not in", sorted(r.sample(range(1, 1001), r.randint(1, 5)))]])),
    ("monthly", lambda r: (
        ["l_month"],
        [["l_quantity", "sum", "qty"], ["l_extendedprice", "mean", "avg_price"]],
        [["l_shipmode", "in", _modes(r)]])),
]

#: a dashboard's panels: one aggregate key (seeded values and file) for each
#: of the first HOT_KEYS shapes
HOT_KEYS = 7
#: drill-downs: pass-through keys (``aggregate=False``, tens of thousands of
#: rows each)
DRILL_KEYS = 2
#: one cycle of the op schedule: H repeats the next panel, D the next
#: drill-down, F runs a key not seen before (a new filter value, file or
#: shape; shapes in a seeded rotation).  Each cycle repeats every panel once,
#: so the mix, and with it the cost of a run, is the same for every seed.
#:
#: The mix is an assumption, not a measurement: no caller trace of the
#: reference is available.  It assumes 70% warm-panel repeats, 10% warm
#: drill-down repeats (pass-through) and 20% never-seen keys, so 80% of ops
#: repeat an earlier key.  A Zipf draw over shapes and values would make the
#: repeat share, and with it the cost of a run, depend on the seed; the fixed
#: cycle keeps runs of different seeds comparable.  A new key costs about
#: ten times a panel repeat (it is planned and compiled afresh), so the F
#: share sets much of ``queries_per_s`` and all of ``query_tail_ms``.
CYCLE = "HHFHDHHFHH"
#: draws of a new key before an F op settles for a key already seen.  Each
#: shape has at least 126 (shape, values, file) keys, which a run reaches
#: only after thousands of ops.
MAX_REDRAWS = 1000


def _draw(rng: random.Random, shape) -> dict:
    name, build = shape
    groupby, measures, filters = build(rng)
    return {
        "kind": "query", "shape": name, "file": rng.choice(_FILES),
        "groupby": groupby, "measures": measures, "filters": filters,
        "aggregate": True,
    }


def _drill(rng: random.Random) -> dict:
    return {
        "kind": "query", "shape": "drill", "file": rng.choice(_FILES),
        "groupby": ["l_orderkey"],
        "measures": ["l_quantity", "l_extendedprice"],
        "filters": [["l_returnflag", "=", rng.choice(fixtures.RETURNFLAGS)],
                    ["l_shipmode", "=", rng.choice(fixtures.SHIPMODES)]],
        "aggregate": False,
    }


#: the panels and drill-downs are the dashboard's definition, the same for
#: every seed: ``query_p50_ms`` falls among the panels' costs, so panels drawn
#: from the seed would make it vary with the seed.  The seed sets the data,
#: the new keys and the order of shapes among them.
PANEL_SEED = "panels"


def _warm() -> tuple[list[dict], list[dict]]:
    rng = random.Random(PANEL_SEED)
    return [_draw(rng, shape) for shape in _SHAPES[:HOT_KEYS]], [_drill(rng) for _ in range(DRILL_KEYS)]


def dashboard_warm() -> list[dict]:
    """The panels and drill-downs, which a long-running dashboard has warm."""
    hot, drills = _warm()
    return hot + drills


def dashboard_ops(seed: int) -> Iterator[dict]:
    rng = random.Random(seed)
    hot, drills = _warm()
    seen = {spec_key(op) for op in hot + drills}
    shapes = list(_SHAPES)
    rng.shuffle(shapes)
    counts = {"H": 0, "D": 0, "F": 0}
    for i in itertools.count():
        kind = CYCLE[i % len(CYCLE)]
        n = counts[kind]
        counts[kind] += 1
        if kind == "H":
            yield dict(hot[n % len(hot)])
        elif kind == "D":
            yield dict(drills[n % len(drills)])
        else:
            shape = shapes[n % len(shapes)]
            for _ in range(MAX_REDRAWS):
                op = _draw(rng, shape)
                if spec_key(op) not in seen:
                    break
            seen.add(spec_key(op))
            yield op


# -- registry ---------------------------------------------------------------

#: registered queries the registry workload runs, by full registry name:
#: q65 (the artifact layer), q75 and q178 (the similarity families), q158
#: (the graph operators) and q48 (text).  An odd count keeps the median op
#: inside one query's run of samples rather than between two queries.
REGISTRY_QUERIES = [
    "q48_text_profile",
    "q65_column_profile",
    "q75_incremental_dedup",
    "q158_triangle_count",
    "q178_cross_source_dup_matrix",
]


def registry_pass(seed: int, pass_no: int) -> list[dict]:
    """One pass over :data:`REGISTRY_QUERIES` in a seeded order."""
    order = list(REGISTRY_QUERIES)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return [{"kind": "registry", "query": q} for q in order]
