"""Spark-path disaggregation tests on deterministic in-repo series.

``test_spark_disagg.py`` builds its five-series fleet from the reference
checkout's CSV fixtures.  The series here have the same shape — five
yearly targets over 1975-2010, quarterly indicators that start earlier —
but are generated from a fixed seed, so the Spark kernel boundary stays
covered when those fixtures are absent.  The parity, skip, report, plan
and streaming tests are the originals run on this fleet; the tests below
them cover exact fits, report failures and streaming replay.
"""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import test_spark_disagg as original
from tsdisagg_spark.spark.disagg import disaggregate, fit_reports


@pytest.fixture(scope="module")
def synthetic_series(spark):
    """Five series in long format: ``(low_sdf, ind_sdf, {sid: (low, ind)})``
    with the layout of ``test_spark_disagg.multi_series``."""
    rng = np.random.default_rng(20261018)
    years = pd.date_range("1975-01-01", freq="YS", periods=36)
    quarters = pd.date_range("1974-01-01", freq="QS", periods=4 * 37)
    growth = np.exp(np.cumsum(rng.normal(0.01, 0.02, len(quarters))))
    season = np.tile([0.97, 1.01, 0.99, 1.03], 37)
    x = pd.Series(100.0 * growth * season, index=quarters, name="x1")
    in_years = x[x.index >= years[0]]
    noise = np.cumsum(rng.normal(0.0, 4.0, len(years)))
    y = pd.Series(
        0.8 * in_years.groupby(in_years.index.year).sum().to_numpy() + 40.0 + noise,
        index=years,
        name="y",
    )

    low_rows, ind_rows, locals_ = [], [], {}
    for i in range(5):
        sid = f"s{i}"
        low_i = y * (1.0 + 0.25 * i)
        ind_i = x * (1.0 + 0.1 * i)
        locals_[sid] = (low_i, ind_i)
        low_rows.append(
            pd.DataFrame({"series_id": sid, "ts": low_i.index, "y": low_i.to_numpy()})
        )
        ind_rows.append(
            pd.DataFrame(
                {"series_id": sid, "ts": ind_i.index, "x1": ind_i.to_numpy(), "intercept": 1.0}
            )
        )
    low_sdf = spark.createDataFrame(pd.concat(low_rows, ignore_index=True))
    ind_sdf = spark.createDataFrame(pd.concat(ind_rows, ignore_index=True))
    return low_sdf, ind_sdf, locals_


def test_synthetic_spark_matches_pandas_chow_lin(synthetic_series):
    original.test_spark_matches_pandas_chow_lin(synthetic_series)


def test_synthetic_spark_companion_path_denton(synthetic_series, spark):
    original.test_spark_companion_path_denton(synthetic_series, spark)


def test_synthetic_spark_errors_skip(synthetic_series, spark):
    original.test_spark_errors_skip(synthetic_series, spark)


def test_synthetic_fit_reports(synthetic_series):
    original.test_fit_reports(synthetic_series)


def test_synthetic_single_shuffle_plan(synthetic_series):
    original.test_single_shuffle_plan(synthetic_series)


def test_synthetic_streaming_disaggregate(spark, tmp_path, synthetic_series):
    original.test_streaming_disaggregate(spark, tmp_path, synthetic_series)


def test_synthetic_streaming_restart_upserts(spark, tmp_path, synthetic_series):
    original.test_streaming_disaggregate_restart_upserts(spark, tmp_path, synthetic_series)


def test_exact_fit_series_is_finite_through_spark(spark):
    """A target that is exactly the yearly sum of its own first indicator
    (the shape of ``disagg_two_indicators``) fits with zero residual; every
    series must still come back finite and re-aggregate to its target."""
    idx = pd.date_range("1990-01-01", periods=12 * 8, freq="MS")
    years = pd.date_range("1990-01-01", periods=8, freq="YS")
    low_rows, ind_rows = [], []
    for seed in range(12):
        rng = np.random.default_rng(seed)
        x1 = rng.uniform(100, 200, len(idx)).round(2) * 1000
        x2 = rng.uniform(1, 50, len(idx)).round(0)
        ind_rows.append(
            pd.DataFrame({"series_id": seed, "ts": idx, "x1": x1, "x2": x2, "intercept": 1.0})
        )
        y = x1.reshape(8, 12).sum(axis=1)
        low_rows.append(pd.DataFrame({"series_id": seed, "ts": years, "y": y}))
    low = pd.concat(low_rows, ignore_index=True)
    out = disaggregate(
        spark.createDataFrame(low),
        spark.createDataFrame(pd.concat(ind_rows, ignore_index=True)),
        method="chow-lin",
        agg_func="sum",
    ).toPandas()
    assert len(out) == 12 * len(idx)
    assert np.isfinite(out["y_hat"]).all(), out[~np.isfinite(out["y_hat"])]
    reagg = (
        out.assign(year=pd.DatetimeIndex(out["ts"]).year)
        .groupby(["series_id", "year"])["y_hat"]
        .sum()
        .sort_index()
    )
    want = low.assign(year=low["ts"].dt.year).set_index(["series_id", "year"])["y"]
    np.testing.assert_allclose(reagg.to_numpy(), want.sort_index().to_numpy(), rtol=1e-8)


def test_fit_reports_failure_names_series(synthetic_series):
    """A series whose fit fails must fail the job with an error naming it,
    the same contract as ``disaggregate(errors='raise')``."""
    low_sdf, ind_sdf, _ = synthetic_series
    poisoned = low_sdf.filter(~((F.col("series_id") == "s3") & (F.year("ts") % 2 == 0)))
    with pytest.raises(Exception, match="disaggregation failed for series 's3'"):
        fit_reports(poisoned, ind_sdf, method="chow-lin", agg_func="sum").collect()


def test_streaming_replayed_batch_writes_no_duplicates(spark, tmp_path, synthetic_series):
    """``foreachBatch`` is at-least-once: a batch whose commit was lost
    runs again with the same ``batch_id`` on restart.  The replay must
    replace the first attempt's output, not add a second copy of it."""
    from tsdisagg_spark.streaming import latest_solutions, streaming_disaggregate

    low_sdf, ind_sdf, _ = synthetic_series
    src, sink, ckpt = (str(tmp_path / d) for d in ("low_src", "sink", "ckpt"))
    low_sdf.write.parquet(src)

    def run_once():
        q = (
            streaming_disaggregate(
                spark.readStream.schema(low_sdf.schema).parquet(src),
                ind_sdf,
                sink_path=sink,
                checkpoint_path=ckpt,
                method="chow-lin",
                agg_func="sum",
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(180):
            q.stop()
            raise AssertionError("streaming run did not finish in 180s")

    run_once()
    first = spark.read.parquet(sink).count()
    # lose batch 0's commit, as a crash between the sink write and the
    # commit log would: the restart must run batch 0 again
    commits = os.path.join(ckpt, "commits")
    assert sorted(os.listdir(commits)) == [".0.crc", "0"]
    shutil.rmtree(commits)
    run_once()
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))

    raw = spark.read.parquet(sink)
    assert raw.count() == first
    latest = latest_solutions(spark, sink)
    assert latest.count() == latest.select("series_id", "ts").distinct().count() == first
