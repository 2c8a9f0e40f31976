"""Distributed multi-series temporal disaggregation.

Architecture (Spark-first, not a port):

* The *relational* half — merging target and indicator observations, period
  labelling, coverage checks — is declared with DataFrame operations so
  Catalyst handles pushdown/pruning.
* The *dense* half — constraint matrix, covariances, GLS, ML fit — runs as a
  grouped-map pandas UDF (``applyInPandas``) per series: each group is one
  series' few hundred rows, Arrow-transferred, solved with the exact same
  pure-NumPy kernels that are golden-tested against R ``tempdisagg``
  (:mod:`tsdisagg_spark.kernels`, :mod:`tsdisagg_spark.disagg`).

Scale design — the whole plan has exactly ONE shuffle:

Instead of ``low FULL OUTER JOIN indicators ON (series, ts)`` followed by
``groupBy(series)`` (two exchanges: one on (series, ts), one on (series)),
the two inputs are *unioned* with a source tag and hash-partitioned once on
``series_id``.  The per-series outer merge then happens inside the kernel on
a few hundred pandas rows — free.  At 100 TB / millions of series this
halves shuffle volume and removes the join's sort entirely; skewed series
are bounded by the largest single series (dense algebra is O(n^3) in series
length, so very long series belong on the banded-kernel path anyway).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsdisagg_spark.disagg import disaggregate_full

_SRC_LOW, _SRC_IND = 0, 1
_TAG = "__src"


def _partition_for_kernel(df: DataFrame, series_col: str, num_partitions: int | None) -> DataFrame:
    """Explicitly hash-partition on the series key before the grouped kernel.

    The kernel stage is CPU-bound, not byte-bound: a million series shuffle
    only a few hundred bytes each, so AQE's coalescePartitions sees a "tiny"
    shuffle and would collapse it to one or two tasks — serializing hours of
    per-series solves onto one core.  A user-specified ``repartition(n, key)``
    is exempt from AQE coalescing, and hash partitioning on the series key
    satisfies the grouped-map distribution requirement, so no second exchange
    is inserted (verified via explain: one ShuffleExchange, partitioning
    REPARTITION_BY_NUM).  3.2x on 1000 series / 32 cores; the gap widens with
    core count.

    The default is exactly one partition per core: each applyInPandas task
    pays a fixed JVM<->Python Arrow stream setup, so oversubscribing (the
    earlier 4x default) multiplied that fixed cost for no balancing benefit —
    with hash-partitioned series, per-partition load is already the sum of
    many independent groups, which self-averages once partitions hold tens of
    series (measured: 938 series on local[32], 32 partitions 2.0s vs 128
    partitions 3.3s).  Pass ``num_partitions`` explicitly for fleets with few,
    wildly skewed series where straggler-smoothing beats per-task overhead."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(num_partitions, series_col)


def _tagged_union(
    low: DataFrame,
    indicators: DataFrame | None,
    series_col: str,
    ts_col: str,
    value_col: str,
) -> tuple[DataFrame, list[str]]:
    """Union target and indicator rows into one long frame with a source tag,
    aligning schemas with explicit null columns (no join — see module doc)."""
    ind_cols: list[str] = []
    if indicators is not None:
        ind_cols = [
            c for c in indicators.columns if c not in (series_col, ts_col)
        ]

    low_part = low.select(
        F.col(series_col),
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
        *[F.lit(None).cast("double").alias(c) for c in ind_cols],
        F.lit(_SRC_LOW).alias(_TAG),
    )
    if indicators is None:
        return low_part, ind_cols

    ind_part = indicators.select(
        F.col(series_col),
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.lit(None).cast("double").alias(value_col),
        *[F.col(c).cast("double").alias(c) for c in ind_cols],
        F.lit(_SRC_IND).alias(_TAG),
    )
    return low_part.unionByName(ind_part), ind_cols


def disaggregate(
    low: DataFrame,
    indicators: DataFrame | None = None,
    *,
    method: str = "denton-cholette",
    agg_func: str = "sum",
    criterion: str = "proportional",
    h: int = 1,
    target_freq: str | None = None,
    optimizer_kwargs: dict | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "y",
    errors: str = "raise",
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Disaggregate many low-frequency series to a higher frequency at once.

    Parameters
    ----------
    low : DataFrame ``(series_col, ts_col, value_col)``
        Long-format low-frequency targets, one row per (series, period stamp).
    indicators : DataFrame ``(series_col, ts_col, x1, ..., xk)``, optional
        High-frequency indicator columns per series.  When omitted the
        companion timeline is synthesized per series (Denton-family only),
        exactly as the single-series API does; ``target_freq`` is then
        required unless each series' frequency can be stepped down
        automatically.
    errors : ``'raise'`` | ``'skip'``
        ``'raise'`` fails the job with an error naming a series whose
        solve failed.  ``'skip'`` drops failed series from the output
        (they emit no rows and nothing records why) instead of failing the
        job — at millions of series one malformed group should not kill a
        1000-executor stage.
    num_partitions : int, optional
        Partition count for the kernel stage; defaults to one partition per
        core (see :func:`_partition_for_kernel`).
    pre_partitioned : bool
        Skip the kernel-stage repartition entirely: pass ``True`` when
        ``low`` already carries a hash distribution on ``series_col`` the
        grouped kernel can reuse — e.g. a series-bucketed table
        (``sources.write_bucketed``) on the companion-index path (no
        indicators; an internal union would otherwise discard the input's
        partitioning).  The nightly re-run over a bucketed layout then has
        ZERO exchanges before the kernel (plan-asserted in tests).

    Returns
    -------
    DataFrame ``(series_col, ts_col, y_hat)`` on the high-frequency axis.
    """
    if pre_partitioned and indicators is not None:
        # the internal union with the indicator frame discards any input
        # partitioning, so honoring the flag here would hand AQE a byte-tiny
        # unguarded shuffle it coalesces to 1-2 tasks — the serialization
        # pathology _partition_for_kernel exists to prevent
        raise ValueError(
            "pre_partitioned=True is only valid without indicators: the "
            "internal target/indicator union discards the input's "
            "partitioning, so the kernel repartition cannot be skipped."
        )

    unioned, ind_cols = _tagged_union(low, indicators, series_col, ts_col, value_col)
    return _disaggregate_unioned(
        unioned,
        ind_cols,
        method=method,
        agg_func=agg_func,
        criterion=criterion,
        h=h,
        target_freq=target_freq,
        optimizer_kwargs=optimizer_kwargs,
        series_col=series_col,
        ts_col=ts_col,
        value_col=value_col,
        errors=errors,
        num_partitions=num_partitions,
        pre_partitioned=pre_partitioned,
    )


def _disaggregate_unioned(
    unioned: DataFrame, ind_cols: list[str], *, ts_col: str = "ts", **kwargs
) -> DataFrame:
    """``y_hat`` rows from the kernel stage over an ALREADY-TAGGED union.

    ``unioned`` must match :func:`_tagged_union`'s output shape exactly:
    ``(series_col, ts_col TIMESTAMP, value_col DOUBLE, *ind_cols DOUBLE,
    _TAG INT)`` with ``value_col`` null on indicator rows and every
    ``ind_cols`` entry null on target rows.  Callers that can DERIVE the
    union in one pass over a shared upstream aggregate (e.g. via grouping
    sets, or with post-union window eligibility) use this entry point so
    the shared subtree has exactly ONE consumer in the physical plan —
    the separate low/indicator legs of the internal union otherwise race
    to materialize a cold cached upstream and compute it once per leg
    (measured: the lineitem month aggregation ran 2-4x per action in
    disagg_chow_lin_suppliers before the round-14 restructure).
    ``kwargs`` are :func:`disaggregate`'s keyword arguments."""

    def y_hat_rows(arts: dict) -> pd.DataFrame:
        out = arts["output"]
        return pd.DataFrame({ts_col: out.index, "y_hat": out.to_numpy(dtype=float)})

    return _kernel_stage(
        unioned,
        ind_cols,
        [T.StructField(ts_col, T.TimestampType()), T.StructField("y_hat", T.DoubleType())],
        y_hat_rows,
        ts_col=ts_col,
        compute_report=False,
        **kwargs,
    )


def _series_frames(
    pdf: pd.DataFrame, ind_cols: list[str], ts_col: str, value_col: str
) -> tuple[pd.DataFrame, pd.DataFrame | None]:
    """Split one series' tagged rows into the ``(low_df, high_df)`` pair the
    single-series API takes.  Indicator columns that are all-null for this
    series are dropped, so mixed fleets (some series with k=1, some k=2)
    share one input; a series left with no indicator gets ``None``."""
    low_rows = (
        pdf[pdf[_TAG] == _SRC_LOW].sort_values(ts_col).dropna(subset=[value_col])
    )
    low_df = pd.DataFrame(
        {value_col: low_rows[value_col].to_numpy()},
        index=pd.DatetimeIndex(low_rows[ts_col]),
    )
    if not ind_cols:
        return low_df, None
    ind_rows = pdf[pdf[_TAG] == _SRC_IND].sort_values(ts_col)
    high_df = pd.DataFrame(
        {c: ind_rows[c].to_numpy() for c in ind_cols},
        index=pd.DatetimeIndex(ind_rows[ts_col]),
    ).dropna(axis=1, how="all")
    return low_df, (high_df if high_df.shape[1] else None)


def _kernel_stage(
    unioned: DataFrame,
    ind_cols: list[str],
    out_fields: list[T.StructField],
    emit: Callable[[dict], pd.DataFrame | None],
    *,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "y",
    errors: str = "raise",
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
    **full_kwargs,
) -> DataFrame:
    """The one grouped kernel stage behind every entry point of this module.

    Partitions ``unioned`` for the kernel (unless ``pre_partitioned``), then
    per series: splits the tagged rows (:func:`_series_frames`), runs
    :func:`~tsdisagg_spark.disagg.disaggregate_full` with ``full_kwargs``,
    and turns its artifacts into rows with ``emit`` (``None`` = no rows).
    The output schema is ``series_col`` followed by ``out_fields``.  A
    failing series raises an error naming it, or under ``errors='skip'``
    emits no rows."""
    if errors not in ("raise", "skip"):
        raise ValueError("errors must be 'raise' or 'skip'")
    schema = T.StructType(
        [T.StructField(series_col, unioned.schema[series_col].dataType), *out_fields]
    )

    def solve_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = pdf[series_col].iloc[0]
        try:
            low_df, high_df = _series_frames(pdf, ind_cols, ts_col, value_col)
            rows = emit(disaggregate_full(low_df, high_df, verbose=False, **full_kwargs))
        except Exception as exc:  # noqa: BLE001 — per-series isolation
            if errors == "skip":
                return pd.DataFrame(columns=schema.fieldNames())
            raise RuntimeError(f"disaggregation failed for series {sid!r}: {exc}") from exc
        if rows is None:
            return pd.DataFrame(columns=schema.fieldNames())
        rows.insert(0, series_col, sid)
        return rows

    partitioned = (
        unioned
        if pre_partitioned
        else _partition_for_kernel(unioned, series_col, num_partitions)
    )
    return partitioned.groupBy(series_col).applyInPandas(solve_group, schema=schema)


_REPORT_FIELDS = [
    T.StructField("variable", T.StringType()),
    T.StructField("coef", T.DoubleType()),
    T.StructField("sd_err", T.DoubleType()),
    T.StructField("t", T.DoubleType()),
    T.StructField("p_value", T.DoubleType()),
    T.StructField("ci_low", T.DoubleType()),
    T.StructField("ci_high", T.DoubleType()),
    T.StructField("rho", T.DoubleType()),
    T.StructField("sigma2", T.DoubleType()),
]


def _report_rows(arts: dict) -> pd.DataFrame | None:
    if arts["report"] is None:  # Denton-family fits have no regression
        return None
    return arts["report"].assign(rho=arts["info"]["rho"], sigma2=arts["info"]["sigma2"])


def fit_reports(
    low: DataFrame,
    indicators: DataFrame,
    *,
    method: str = "chow-lin",
    agg_func: str = "sum",
    optimizer_kwargs: dict | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "y",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-series GLS regression diagnostics as a DataFrame
    ``(series, variable, coef, sd_err, t, p_value, ci_low, ci_high, rho,
    sigma2)`` — the engine's replacement for the reference's stdout report
    (ts_disagg.py:179-210), queryable instead of printed.  A series whose
    fit fails raises an error naming it, as :func:`disaggregate` does."""
    unioned, ind_cols = _tagged_union(low, indicators, series_col, ts_col, value_col)
    return _kernel_stage(
        unioned,
        ind_cols,
        _REPORT_FIELDS,
        _report_rows,
        series_col=series_col,
        ts_col=ts_col,
        value_col=value_col,
        num_partitions=num_partitions,
        method=method,
        agg_func=agg_func,
        optimizer_kwargs=optimizer_kwargs,
    )
