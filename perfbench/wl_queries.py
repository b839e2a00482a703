"""``interval_queries``: read-only ad-hoc queries.

Nine driver-contract queries (``intervalaverage_spark.queries``) on
seeded sf-shaped tables, in an order the seed permutes. They exercise the
range join and ``average``, ``intersect``, ``isolate``, ``coalesce``, the
M4 downsample, and the time-sliced carry operators (``asof``, ``fill``,
``sessions``, ``analytics``). Nothing is written and
``checkpoint``/``gorilla`` do no work. Each result is collected to the
driver as Arrow and compared with the query's DuckDB oracle
(``oracle_sql()``) computed once during set-up.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal

import duckdb

from intervalaverage_spark.queries import oracle_sql, queries

from tables import make_tables

#: query → the operator module it exercises. One query per module keeps a
#: run within the benchmark's time budget; the fill query is the bucketed
#: (time-sliced) one. ``tiers`` is left to the rollup workload.
QUERIES = {
    "interval_average_events_daily": "average",
    "interval_intersect_events_daily": "intersect",
    "isolate_overlaps_orders": "isolate",
    "asof_lineitem_daily": "asof",
    "fill_daily_events": "fill",
    "sessionize_events": "sessions",
    "rolling_1h_minmax": "analytics",
    "coalesce_orders": "coalesce",
    "m4_daily_events": "downsample",
}

#: operator modules → the span group their event-log figures are folded into
GROUPS = {
    "queries.interval_ops": {"average", "intersect", "isolate", "coalesce"},
    "queries.carry_ops": {"asof", "fill", "sessions", "analytics"},
    "queries.rollup_ops": {"downsample"},
}

SIZES = {
    "full": {"sf": 0.005, "warm_sf": 0.0005},
    "smoke": {"sf": 0.001, "warm_sf": 0.0005},
}

TABLES = ("events", "orders", "lineitem")


def span_group(span: str) -> str | None:
    module = QUERIES.get(span.removeprefix("queries."))
    return next((g for g, mods in GROUPS.items() if module in mods), None)


def _norm(rows: list[dict], cols: list[str]) -> list[tuple]:
    """Order-insensitive comparable form: numbers as floats rounded to 6
    places (NaN as NULL), rows sorted."""
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
                v = float(v)
                v = None if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


class IntervalQueries:
    def __init__(self, run, size: dict):
        self.run, self.size, self.spark = run, size, run.spark
        self.fns = queries()
        self.sf_dir, self.warm_dir = run.path("sf"), run.path("sf_warm")

    def setup(self) -> dict:
        r = self.run
        rows = make_tables(self.sf_dir, self.size["sf"], r.seed)
        self.order = list(QUERIES)
        random.Random(r.seed).shuffle(self.order)
        return {"sf": self.size["sf"], "rows": rows, "order": self.order}

    def oracle(self) -> None:
        """Each query's expected output from its DuckDB oracle."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            sqls = oracle_sql()
            self.expected = {}
            for name in QUERIES:
                cur = con.execute(sqls[name])
                cols = [d[0] for d in cur.description]
                rows = [dict(zip(cols, row)) for row in cur.fetchall()]
                self.expected[name] = (sorted(cols), _norm(rows, sorted(cols)))
        finally:
            con.close()

    def _pass(self, sf_dir: str, check: bool) -> dict:
        r = self.run
        secs = {}
        for name in self.order:
            oid, tbl, secs[name] = r.op(
                f"queries.{name}", lambda: self.fns[name](self.spark, sf_dir).toArrow())
            if check and tbl is not None:
                cols, want = self.expected[name]
                got_cols = sorted(tbl.column_names)
                got = _norm(tbl.to_pylist(), got_cols)
                r.check(oid, got_cols == cols and got == want,
                        f"{name}: {len(got)} rows {got_cols} vs oracle {len(want)} rows {cols}")
        carry = GROUPS["queries.carry_ops"]
        total = sum(secs.values())
        return {"work_per_s": len(secs) / total,
                "side_s": sum(s for n, s in secs.items() if QUERIES[n] in carry),
                "pass_s": total, "queries_per_s": len(secs) / total, "query_s": secs}

    def warmup(self) -> None:
        """Every query once on small tables of its own, concurrently: JIT
        and code generation, not work."""
        make_tables(self.warm_dir, self.size["warm_sf"], self.run.seed + 1)
        self.run.concurrently({
            f"queries.{n}": (lambda n=n: self.fns[n](self.spark, self.warm_dir).toArrow())
            for n in QUERIES})

    def timed_pass(self, i: int) -> dict:
        return self._pass(self.sf_dir, True)

    def traced_pass(self) -> tuple[dict, float]:
        p = self._pass(self.sf_dir, True)
        return {f"queries.{n}_s": s for n, s in p["query_s"].items()}, p["pass_s"]
