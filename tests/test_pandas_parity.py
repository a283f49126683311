"""Pandas-exactness tests for the semantic corners SURVEY §7.2 flags:
centered even-window alignment, min_periods nulling, ddof conventions,
tri5 weighting, and the full 5-pass SentemQC vs a straight pandas
reimplementation of the reference's semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

KEYS = ["station", "variable"]


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(11)
    n = 800
    ts = pd.date_range("2024-02-01", periods=n, freq="15min")
    v = rng.normal(10, 2, n)
    v[rng.choice(n, 60, replace=False)] = np.nan  # holes exercise min_periods
    pdf = pd.DataFrame({"station": "s", "variable": "v", "ts": ts, "value": v})
    return spark.createDataFrame(pdf), pdf


@pytest.mark.parametrize("w", [5, 12, 48])  # odd + both even cases
def test_centered_mean_matches_pandas(spark, series_df, w):
    from wq_data_pipeline_spark.operators.sentem import frame_mean_std

    sdf, pdf = series_df
    ma, sd = frame_mean_std("value", w, KEYS, "ts", "mean")
    out = sdf.select("ts", ma.alias("ma"), sd.alias("sd")).orderBy("ts").toPandas()
    import math

    minp = max(3, math.ceil(w * 0.3))
    r = pdf["value"].rolling(w, center=True, min_periods=minp)
    exp_ma = r.mean().to_numpy()
    exp_sd = r.std(ddof=0).to_numpy()
    assert np.allclose(out["ma"].to_numpy(), exp_ma, equal_nan=True, rtol=1e-12)
    assert np.allclose(out["sd"].to_numpy(), exp_sd, equal_nan=True, rtol=1e-9)


@pytest.mark.parametrize("w", [11, 24])
def test_centered_median_matches_pandas(spark, series_df, w):
    from wq_data_pipeline_spark.operators.detectors import with_rolling_median

    sdf, pdf = series_df
    minp = max(5, w // 3)
    out = (
        with_rolling_median(sdf, "value", w, KEYS, "ts", minp)
        .orderBy("ts")
        .select("roll_med")
        .toPandas()["roll_med"]
        .to_numpy()
    )
    exp = pdf["value"].rolling(w, center=True, min_periods=minp).median().to_numpy()
    assert np.allclose(out, exp, equal_nan=True, rtol=1e-12)


def test_var_samp_matches_pandas_ddof1(spark, series_df):
    from wq_data_pipeline_spark.operators.windows import centered, guard_min_periods

    sdf, pdf = series_df
    frame = centered(25, KEYS, "ts")
    out = (
        sdf.withColumn(
            "v25", guard_min_periods(F.var_samp("value").over(frame), "value", frame, 8)
        )
        .orderBy("ts")
        .select("v25")
        .toPandas()["v25"]
        .to_numpy()
    )
    exp = pdf["value"].rolling(25, center=True, min_periods=8).var().to_numpy()
    assert np.allclose(out, exp, equal_nan=True, rtol=1e-9)


def _tri5_reference(v):
    """Direct numpy transcription of the reference's tri5 weighted
    mean/std (scripts/sentemqc.py:31-39)."""
    from wq_data_pipeline_spark.operators.sentem import TRI5_WEIGHTS

    n = len(v)
    exp_ma = np.full(n, np.nan)
    exp_sd = np.full(n, np.nan)
    for i in range(n):
        vals, wts = [], []
        for k in range(-2, 3):
            j = i + k
            if 0 <= j < n and np.isfinite(v[j]):
                vals.append(v[j])
                wts.append(TRI5_WEIGHTS[k + 2])
        if len(vals) < 3:
            continue
        vals, wts = np.asarray(vals), np.asarray(wts)
        m = (vals * wts).sum() / wts.sum()
        exp_ma[i] = m
        exp_sd[i] = np.sqrt((wts * (vals - m) ** 2).sum() / wts.sum())
    return exp_ma, exp_sd


def test_tri5_matches_reference_numpy(spark, series_df):
    """tri5 vs a direct numpy transcription of the reference's
    weighted mean/std semantics (scripts/sentemqc.py:31-39)."""
    from wq_data_pipeline_spark.operators.sentem import tri5_mean_std

    sdf, pdf = series_df
    ma, sd = tri5_mean_std("value", KEYS, "ts")
    out = sdf.select("ts", ma.alias("ma"), sd.alias("sd")).orderBy("ts").toPandas()
    exp_ma, exp_sd = _tri5_reference(pdf["value"].to_numpy())
    assert np.allclose(out["ma"].to_numpy(), exp_ma, equal_nan=True, rtol=1e-12)
    assert np.allclose(out["sd"].to_numpy(), exp_sd, equal_nan=True, rtol=1e-9)


def test_full_sentemqc_pipeline(spark):
    """apply_sentemqc end-to-end on a fixture: flags fire on injected
    excursions; bands/masks/reasons are internally consistent."""
    from wq_data_pipeline_spark.operators.sentem import apply_sentemqc

    rng = np.random.default_rng(5)
    n = 2000
    ts = pd.date_range("2024-01-01", periods=n, freq="15min")
    v = rng.normal(8, 0.3, n)
    v[700] = 30.0  # hard spike: outside every band
    v[900:905] = -2.0  # non-positive -> pre-masked
    pdf = pd.DataFrame({"station": "s", "variable": "o2", "ts": ts, "value": v})
    out = apply_sentemqc(
        spark.createDataFrame(pdf), sensor_code=400
    ).orderBy("ts").collect()

    spike = out[700]
    assert spike.flag_global == 200 and spike.value_masked is None
    assert "flag_run" in spike.flag_reason or "flag_sensor" in spike.flag_reason
    for r in out[900:905]:
        assert r.value is None  # pre-mask turned them into NULL
    flagged = [r for r in out if r.is_flagged]
    ok = [r for r in out if not r.is_flagged]
    assert all(r.value_masked is None for r in flagged)
    assert all(r.flag_reason == "" for r in ok)
    # the bulk of a clean series must survive
    assert len(ok) > 0.9 * n


def test_sentemqc_pass_flags_match_pandas(spark):
    """apply_sentemqc's five ``flag_run{i}`` — the two 960-point mean
    passes on one shared set of prefix sums, the 48-point median, the
    5-point mean and tri5 — equal a per-pass pandas reference
    (``rolling(center=True, min_periods)`` plus the band formula) on
    series with NULL runs, non-positive values and spikes, two of them
    shorter than 960 points and one shorter than the 960 windows'
    min_periods."""
    import math

    from wq_data_pipeline_spark.operators.sentem import DEFAULT_PASSES, apply_sentemqc

    rng = np.random.default_rng(23)
    frames = []
    for var, n in (("long", 1500), ("short", 700), ("tiny", 250)):
        v = rng.normal(8.0, 0.4, n)
        v[rng.choice(n, 12, replace=False)] *= 2.5  # spikes
        v[rng.choice(n, 15, replace=False)] = np.nan
        v[rng.choice(n, 10, replace=False)] = -1.0  # pre-masked
        v[100:160] = np.nan  # NULL run
        v[180:183] = 0.0
        ts = pd.date_range("2024-01-01", periods=n, freq="15min")
        frames.append(pd.DataFrame({"station": "s", "variable": var, "ts": ts, "value": v}))
    pdf = pd.concat(frames, ignore_index=True)
    runs = [f"flag_run{i}" for i in range(1, len(DEFAULT_PASSES) + 1)]
    got = apply_sentemqc(spark.createDataFrame(pdf)).select("variable", "ts", *runs).toPandas()
    for var, g in pdf.groupby("variable"):
        out = got[got["variable"] == var].sort_values("ts")
        s = g.sort_values("ts")["value"].where(lambda x: x > 0).reset_index(drop=True)
        for name, cfg in zip(runs, DEFAULT_PASSES):
            if cfg.stat == "tri5":
                ma, sd = _tri5_reference(s.to_numpy())
            else:
                minp = max(3, math.ceil(cfg.window * 0.3))
                r = s.rolling(cfg.window, center=True, min_periods=minp)
                ma = (r.median() if cfg.stat == "median" else r.mean()).to_numpy()
                sd = r.std(ddof=0).to_numpy()
            top = ma + cfg.top_add + cfg.scale * sd
            bottom = ma - cfg.bottom_sub - cfg.scale * sd
            hi = s.to_numpy() * (1.0 + cfg.unc_pct)
            lo = s.to_numpy() * (1.0 - cfg.unc_pct)
            with np.errstate(invalid="ignore"):
                flagged = ((hi > top) & (lo > top)) | ((hi < bottom) & (lo < bottom))
            exp = np.where(flagged, 200, 100)
            np.testing.assert_array_equal(out[name].to_numpy(), exp, err_msg=f"{var} {name}")
        assert var == "tiny" or (out["flag_run1"] == 200).any(), var


def test_flags_monotone_property(spark, series_df):
    """Property (SURVEY §5.2): adding a detector can only grow the
    flagged set."""
    from wq_data_pipeline_spark.operators import detectors as D

    sdf, _ = series_df
    base = D.merge_flags(D.flag_range("value", 5.0, 15.0))
    more = D.merge_flags(
        D.flag_range("value", 5.0, 15.0), D.flag_jumps("value", 3.0, KEYS, "ts")
    )
    d = sdf.withColumn("f1", base).withColumn("f2", more)
    assert d.filter(F.col("f1") & ~F.col("f2")).count() == 0


def test_islands_partition_property(spark, series_df):
    """Islands partition the series: ids are monotone, never skip."""
    from wq_data_pipeline_spark.operators.windows import with_islands

    sdf, _ = series_df
    d = with_islands(sdf.withColumn("flag", F.col("value") > 10), "flag", KEYS, "ts")
    rows = d.orderBy("ts").select("island_id").collect()
    ids = [r.island_id for r in rows]
    assert ids[0] == 1
    assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
