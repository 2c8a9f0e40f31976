"""The benchmark's workloads.

A workload knows how to make its inputs from the seed (``prepare``), which
operations one pass runs (``ops``), how many series one pass disaggregates,
how to check the outputs its warm-up pass collected (``check``, untimed),
and which of its own series to replay in-process for the kernel and
disaggregation layers (``replay_inputs``).

* ``fleet_short`` / ``fleet_long``: one synthetic fleet through
  :func:`tsdisagg_spark.spark.disagg.disaggregate` (Chow-Lin, ``sum``) into
  the noop sink.  Short series take the dense kernel path, long ones
  (>= ``kernels.BANDED_THRESHOLD`` months) the banded one.
* ``tpch_disagg``: the registry's disaggregation queries on seeded
  TPC-H-shaped tables, each hash-compared against its DuckDB oracle.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

import gen

#: absolute tolerance of the re-aggregation invariant, per series-year
REAGG_TOL = 1e-6


class Workload:
    name = ""
    #: untimed noop passes after the collecting warm-up pass
    warm_passes = 0
    #: series one pass disaggregates
    series_per_pass = 1
    #: whether every operation ends with ``release_all`` (else the inputs
    #: stay cached for the run and are released once per set-up)
    release_per_op = False

    def prepare(self, spark, seed: int, data_dir: str) -> None:
        raise NotImplementedError

    def ops(self, spark, rng: random.Random) -> list[tuple[str, callable]]:
        raise NotImplementedError

    def op_weight(self, name: str) -> int:
        """Operations one execution of ``name`` counts as (series for the
        fleets, one query execution for the query workloads)."""
        return 1

    def after_op(self, spark) -> None:
        """Per-operation cleanup that belongs to the operation's latency."""

    def release(self, spark) -> None:
        """Drop what ``prepare`` cached."""

    def warmup(self, spark) -> None:
        """Run every op once, collecting what ``check`` needs; an exception
        is kept as that op's failure."""
        raise NotImplementedError

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over the warm-up outputs."""
        raise NotImplementedError

    def replay_inputs(self) -> list[tuple[pd.DataFrame, pd.DataFrame | None, dict]]:
        """A fixed sample of this workload's own series as the
        ``disaggregate_full`` arguments the grouped kernel would build."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# fleets


def check_fleet(out: pd.DataFrame, low: pd.DataFrame, n_months: int) -> dict:
    """Failing series of one fleet output -> reason.

    A series fails when it is missing, has other than ``n_months`` rows, or
    any of its years re-aggregates (sum of monthly ``y_hat``) to more than
    :data:`REAGG_TOL` away from its yearly target."""
    bad: dict = {}
    counts = out.groupby("series_id").size()
    expected = low["series_id"].unique()
    for sid in expected:
        n = int(counts.get(sid, 0))
        if n != n_months:
            bad[sid] = f"{n} rows, expected {n_months}"
    out = out.assign(year=pd.DatetimeIndex(out["ts"]).year)
    reagg = out.groupby(["series_id", "year"])["y_hat"].sum()
    tgt = low.assign(year=pd.DatetimeIndex(low["ts"]).year).set_index(
        ["series_id", "year"]
    )["y"]
    diff = (reagg.reindex(tgt.index) - tgt).abs()
    for (sid, year), d in diff.items():
        if not np.isfinite(d) or d > REAGG_TOL:
            bad.setdefault(sid, f"year {year}: |sum y_hat - y| = {d:.3g}")
    return bad


class Fleet(Workload):
    # a fleet pass costs 2-4 s and its first repeats still speed up; one
    # extra pass is cheap.  A registry pass costs ~10 s, too much to repeat
    # within the run budget.
    warm_passes = 1

    def __init__(self, name: str, n_series: int, n_years: int, start_year: int, replay_n: int):
        self.name = name
        self.n_series = n_series
        self.n_years = n_years
        self.start_year = start_year
        self.replay_n = replay_n
        self.series_per_pass = n_series
        self.output: pd.DataFrame | str | None = None
        self.low = self.ind = None

    def prepare(self, spark, seed, data_dir):
        self.low_pdf, self.ind_pdf = gen.fleet_tables(
            seed, self.n_series, self.n_years, self.start_year
        )
        self.low = spark.createDataFrame(self.low_pdf).persist()
        self.ind = spark.createDataFrame(self.ind_pdf).persist()
        self.low.count()
        self.ind.count()

    def _query(self):
        from tsdisagg_spark.spark.disagg import disaggregate

        return disaggregate(self.low, self.ind, method="chow-lin", agg_func="sum")

    def ops(self, spark, rng):
        return [("disaggregate", self._query)]

    def op_weight(self, name):
        return self.n_series

    def release(self, spark):
        from tsdisagg_spark.cacheutil import release_all

        release_all(spark)

    def warmup(self, spark):
        try:
            self.output = self._query().toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed op, checked below
            self.output = f"{type(exc).__name__}: {exc}"[:300]

    def check(self):
        if isinstance(self.output, str):
            return self.n_series, self.n_series, [f"disaggregate: {self.output}"]
        bad = check_fleet(self.output, self.low_pdf, 12 * self.n_years)
        return self.n_series, len(bad), [f"series {k}: {v}" for k, v in sorted(bad.items())[:5]]

    def replay_inputs(self):
        out = []
        for sid in range(self.replay_n):
            lo = self.low_pdf[self.low_pdf["series_id"] == sid]
            hi = self.ind_pdf[self.ind_pdf["series_id"] == sid]
            out.append(_frames(lo, hi, ["x1"]))
        return out


# --------------------------------------------------------------------------
# registry queries

TPCH_DISAGG = [
    "disagg_chow_lin_priority",
    "disagg_chow_lin_suppliers",
    "disagg_reagg_check",
    "disagg_two_indicators",
    "disagg_litterman_nation",
    "disagg_denton_mean",
    "disagg_denton_companion",
    "disagg_fit_reports",
    "disagg_fit_report_checks",
    "prorata_disagg",
]
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
#: expected row counts of the queries that have no oracle: the raw
#: fit-report rows are not SQL-derivable, but there is one per
#: (order priority, regressor), the regressors being x1 and intercept
ROW_COUNTS = {
    "disagg_fit_reports": "SELECT 2 * COUNT(DISTINCT o_orderpriority) FROM orders",
}


class RegistryQueries(Workload):
    """Registry queries over seeded tables; the seed also permutes the
    query order of every pass."""

    release_per_op = True

    def __init__(self, name: str, queries: list[str], sf: float):
        self.name = name
        self.queries = queries
        self.sf = sf
        self.collected: list[tuple[str, object, list]] = []

    def prepare(self, spark, seed, data_dir):
        self.sf_dir = gen.write_tpch(data_dir, seed, self.sf)

    def ops(self, spark, rng):
        from tsdisagg_spark import queries as registry

        order = list(self.queries)
        rng.shuffle(order)
        return [(q, lambda q=q: registry.QUERIES[q](spark, self.sf_dir)) for q in order]

    def after_op(self, spark):
        from tsdisagg_spark.cacheutil import release_all

        release_all(spark)

    def warmup(self, spark):
        from tsdisagg_spark.cacheutil import release_all
        from tsdisagg_spark import queries as registry

        series = 0
        for q in self.queries:
            try:
                sdf = registry.QUERIES[q](spark, self.sf_dir)
                rows = [tuple(r) for r in sdf.collect()]
            except Exception as exc:  # noqa: BLE001 — a failed op, checked below
                self.collected.append((q, None, f"{type(exc).__name__}: {exc}"[:300]))
                continue
            finally:
                release_all(spark)
            self.collected.append((q, sdf, rows))
            # the series a query disaggregates: distinct series_id, else one
            if "series_id" in sdf.columns:
                i = sdf.columns.index("series_id")
                series += len({r[i] for r in rows})
            else:
                series += 1
        self.series_per_pass = series

    def check(self):
        import duckdb

        from oracle_sweep import canon_rows, dtype_mismatches
        from tsdisagg_spark import queries as registry

        problems, failed = [], 0
        con = duckdb.connect()
        for tn in TPCH_TABLES:
            con.execute(
                f"CREATE VIEW {tn} AS SELECT * FROM read_parquet('{self.sf_dir}/{tn}.parquet')"
            )
        for q, sdf, rows in self.collected:
            if sdf is None:
                failed += 1
                problems.append(f"{q}: {rows}")
                continue
            oracle = registry.ORACLES.get(q)
            if oracle is None:
                want = con.sql(ROW_COUNTS[q]).fetchone()[0]
                if len(rows) != want:
                    failed += 1
                    problems.append(f"{q}: {len(rows)} rows, expected {want}")
                continue
            res = con.sql(oracle)
            drows = res.fetchall()
            bad_types = dtype_mismatches(sdf, res)
            if bad_types or canon_rows(sdf.columns, rows) != canon_rows(res.columns, drows):
                failed += 1
                problems.append(
                    f"{q}: MISMATCH spark={len(rows)} rows duckdb={len(drows)} rows {bad_types}"
                    + _missing_values(sdf.columns, rows)
                )
        con.close()
        return len(self.collected), failed, problems

    def replay_inputs(self):
        """The five order-priority series of ``disagg_reagg_check`` and the
        first ten eligible supplier series of ``disagg_chow_lin_suppliers``,
        rebuilt in DuckDB from the same seeded tables."""
        import duckdb

        con = duckdb.connect()
        for tn in ("orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {tn} AS SELECT * FROM read_parquet('{self.sf_dir}/{tn}.parquet')"
            )
        low = con.sql(
            """SELECT o_orderpriority AS sid, date_trunc('year', o_orderdate) AS ts,
                      SUM(o_totalprice) AS y FROM orders GROUP BY 1, 2"""
        ).df()
        ind = con.sql(
            """SELECT o_orderpriority AS sid, date_trunc('month', l_shipdate) AS ts,
                      SUM(l_extendedprice) AS x1
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2"""
        ).df()
        sup = con.sql(
            """WITH m AS (SELECT l_suppkey AS sid, date_trunc('month', l_shipdate) AS ts,
                                 SUM(l_extendedprice) AS rev, SUM(l_quantity) AS x1
                          FROM lineitem GROUP BY 1, 2),
                    e AS (SELECT sid FROM m GROUP BY 1
                          HAVING month(MIN(ts)) = 1
                             AND COUNT(*) = datediff('month', MIN(ts), MAX(ts)) + 1
                          ORDER BY sid LIMIT 10)
               SELECT m.* FROM m JOIN e USING (sid)"""
        ).df()
        con.close()
        out = []
        for sid, lo in low.groupby("sid"):
            hi = ind[ind["sid"] == sid]
            out.append(_frames(lo, hi, ["x1"]))
        for sid, m in sup.groupby("sid"):
            m = m.sort_values("ts")
            lo = (
                m.assign(ts=pd.DatetimeIndex(m["ts"]).to_period("Y").to_timestamp())
                .groupby("ts", as_index=False)["rev"].sum()
                .rename(columns={"rev": "y"})
            )
            out.append(_frames(lo, m, ["x1"]))
        return out


def _missing_values(columns: list[str], rows: list[tuple]) -> str:
    """'; N NULL/NaN values (series ...)' for the rows of a query output
    that hold a NULL or non-finite number, else ''."""
    bad = [
        r for r in rows
        if any(v is None or (isinstance(v, float) and not np.isfinite(v)) for v in r)
    ]
    if not bad:
        return ""
    i = columns.index("series_id") if "series_id" in columns else None
    series = sorted({str(r[i]) for r in bad}) if i is not None else []
    return f"; {len(bad)} rows with NULL/NaN values (series {', '.join(series[:10])})"


def _frames(lo: pd.DataFrame, hi: pd.DataFrame, cols: list[str]):
    lo = lo.sort_values("ts")
    hi = hi.sort_values("ts")
    low_df = pd.DataFrame({"y": lo["y"].to_numpy(dtype=float)}, index=pd.DatetimeIndex(lo["ts"]))
    high_df = pd.DataFrame(
        {c: hi[c].to_numpy(dtype=float) for c in cols}, index=pd.DatetimeIndex(hi["ts"])
    )
    high_df["intercept"] = 1.0
    return low_df, high_df, {"method": "chow-lin", "agg_func": "sum"}


WORKLOADS = {
    "fleet_short": lambda: Fleet("fleet_short", n_series=400, n_years=10, start_year=2000, replay_n=40),
    "fleet_long": lambda: Fleet("fleet_long", n_series=8, n_years=200, start_year=1800, replay_n=4),
    "tpch_disagg": lambda: RegistryQueries("tpch_disagg", TPCH_DISAGG, sf=0.01),
}
