"""Time-series forecasting: lag features + trend + seasonality →
regression, with iterative multi-step forecast and residual-quantile
confidence intervals.

Reference semantics (DSL.md:297-313): the verbose prophet-style form
``TRAIN MODEL … USING prophet(seasonality=['yearly','weekly'],
holidays=us_holidays) … PREDICT y WITH TIME COLUMN t AND FEATURES
(… SEASONAL weekday, TREND linear) FORECAST 30 days AHEAD WITH
CONFIDENCE INTERVALS 0.8, 0.95`` plus the compact ``FORECAST y WITH
TIME COLUMN t HORIZON n …`` form. There is no Prophet on a Spark
cluster's JVM — the documented mapping (SURVEY.md §2.1 'TRAIN …
FORECAST') is window-lag feature generation + an MLlib regressor;
``prophet`` is an alias for gradient-boosted regression with the full
seasonal feature set. CAVEAT: TREND linear only extrapolates under a
linear-family regressor — tree ensembles (including the ``prophet``
alias) cannot produce values outside the training range for a
``trend_idx`` beyond the history, so a strongly trending series
under GBT plateaus at the last level; declare
``USING linear_regression`` when extrapolated trend matters.

Confidence intervals are distribution-free residual quantiles
(split-conformal style): for level p the held-out residual
quantiles at (1±p)/2 are added to each point forecast, yielding
``lo_80/hi_80``-style columns. The quantiles come from one
``approxQuantile`` pass (distributed, no driver materialization of
residuals). SCOPE: the residuals are ONE-step-ahead errors, so the
stated coverage holds for step 1 and degrades with horizon (steps
2..h iterate on predicted lags, whose error grows; constant-width
bands undercover there) — per-step conformal calibration is the
upgrade path when multi-step coverage guarantees are needed.

Holidays are a calendar dimension: the named table's date column is
collected to a bounded driver-side set (a few hundred rows per
decade; guarded) and becomes an ``is_holiday`` indicator on both the
training frame and future steps — the broadcast-a-tiny-dim pattern,
expressed as a literal IN-set so the scan stays single-pass.

Scale: feature building is one window over the time order (single
shuffle); the fit is a distributed MLlib regression. Multi-step
forecasting is inherently sequential in the horizon — it runs
driver-side over the last ``max(lags)`` observations only (a few KB),
never over the history.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

import pandas as pd
from pyspark.ml import Pipeline
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from declarativeml_spark.dsl.ir import ForecastModel
from declarativeml_spark.ml.registry import get_algorithm
from declarativeml_spark.operators.caching import collect_bounded
from declarativeml_spark.plans.builder import resolve_source

_FORECAST_ALIASES = {"prophet": "gradient_boosting_regressor"}

# seasonality vocabulary → (feature column, Spark builder)
_SEASONAL_FEATURES = {
    "weekday": ("dow", F.dayofweek),
    "weekly": ("dow", F.dayofweek),
    "dow": ("dow", F.dayofweek),
    "month": ("month", F.month),
    "monthly": ("month", F.month),
    "yearly": ("doy", F.dayofyear),
    "year": ("doy", F.dayofyear),
}

_UNIT_STEPS = {
    "hour": pd.Timedelta(hours=1),
    "hours": pd.Timedelta(hours=1),
    "day": pd.Timedelta(days=1),
    "days": pd.Timedelta(days=1),
    "week": pd.Timedelta(weeks=1),
    "weeks": pd.Timedelta(weeks=1),
}

_MAX_HOLIDAY_ROWS = 100_000  # calendars are small; refuse fact tables


def _split_params(stmt: ForecastModel) -> Tuple[dict, dict]:
    """Separate estimator params from forecast-level ones.

    ``holidays=<table>`` and ``seasonality=[...]`` (reference
    DSL.md:299-301) configure the feature plan, not the regressor.
    """
    est: Dict[str, Any] = {}
    fc: Dict[str, Any] = {}
    for key, val in stmt.params:
        (fc if key in {"holidays", "seasonality"} else est)[key] = val
    return est, fc


def _seasonal_terms(stmt: ForecastModel) -> List[str]:
    """Ordered, deduped union of SEASONAL clauses + seasonality param."""
    _, fc = _split_params(stmt)
    raw = list(stmt.seasonal_terms or ([stmt.seasonal] if stmt.seasonal else []))
    extra = fc.get("seasonality", [])
    if isinstance(extra, str):
        extra = [extra]
    raw.extend(extra)
    out: list[str] = []
    for term in raw:
        if term not in _SEASONAL_FEATURES:
            raise ValueError(
                f"Unknown seasonality {term!r}; expected one of "
                f"{sorted(set(_SEASONAL_FEATURES))}"
            )
        col = _SEASONAL_FEATURES[term][0]
        if col not in out:
            out.append(col)
    return out


def _exog_cols(stmt: ForecastModel) -> List[str]:
    return [f"exog_{i}" for i in range(len(stmt.exog))]


def _holiday_dates(spark: SparkSession, table: str) -> List[str]:
    """Collect the holiday calendar as ISO date strings (bounded)."""
    df = resolve_source(spark, table, True)
    # conventionally-named calendar columns win over schema order —
    # a table like (created_at timestamp, holiday date) must use
    # `holiday`, not whichever date-typed column happens to be first.
    # The name must also be DATE-CAPABLE (date/timestamp/ISO string):
    # an integer column named `day` (day-of-month numbers) would
    # otherwise win the name scan, to_date every row to NULL, and
    # silently produce an empty calendar
    dtypes = dict(df.dtypes)
    date_capable = {"date", "timestamp", "timestamp_ntz", "string"}
    date_col = next(
        (
            c
            for c in ("holiday", "date", "day", "ds")
            if c in df.columns and dtypes[c] in date_capable
        ),
        None,
    )
    if date_col is None:
        dated = [
            name
            for name, dtype in df.dtypes
            if dtype in {"date", "timestamp", "timestamp_ntz"}
        ]
        if len(dated) > 1:
            raise ValueError(
                f"holidays table {table!r} has several date-typed columns"
                f" ({', '.join(dated)}) and none named"
                " holiday/date/day/ds — rename or project the calendar"
                " column"
            )
        date_col = dated[0] if dated else None
    if date_col is None:
        raise ValueError(
            f"holidays table {table!r} has no date-typed column"
        )
    rows = collect_bounded(
        df.select(F.to_date(F.col(date_col)).cast("string").alias("d"))
        .where(F.col("d").isNotNull())
        .distinct(),
        _MAX_HOLIDAY_ROWS,
    )
    if rows is None:
        raise ValueError(
            f"holidays table {table!r} exceeds {_MAX_HOLIDAY_ROWS} distinct "
            "dates — not a calendar"
        )
    if not rows:
        # a silently empty calendar makes the declared holidays
        # feature a no-op with no signal to the user
        raise ValueError(
            f"holidays table {table!r}: column {date_col!r} produced no"
            " parseable dates — not a calendar (check the column type"
            " and date format)"
        )
    return sorted(r.d for r in rows)


def _feature_cols(stmt: ForecastModel) -> List[str]:
    cols = [f"lag_{k}" for k in stmt.lags]
    if stmt.trend:
        cols.append("trend_idx")
    cols.extend(_seasonal_terms(stmt))
    cols.extend(_exog_cols(stmt))
    _, fc = _split_params(stmt)
    if fc.get("holidays"):
        cols.append("is_holiday")
    return cols


def build_forecast_frame(
    df: DataFrame,
    stmt: ForecastModel,
    holiday_dates: Optional[List[str]] = None,
) -> DataFrame:
    """One ordered window pass: lags, trend index, seasonal fields,
    exogenous regressors, holiday indicator."""
    w = W.orderBy(F.col(stmt.time_column))
    out = df
    for k in stmt.lags:
        out = out.withColumn(
            f"lag_{k}", F.lag(F.col(stmt.target), k).over(w).cast("double")
        )
    if stmt.trend:
        out = out.withColumn("trend_idx", F.row_number().over(w).cast("double"))
    builders = {c: fn for c, fn in _SEASONAL_FEATURES.values()}
    for col in _seasonal_terms(stmt):
        out = out.withColumn(
            col, builders[col](stmt.time_column).cast("double")
        )
    for i, expr in enumerate(stmt.exog):
        out = out.withColumn(f"exog_{i}", F.expr(expr).cast("double"))
    if holiday_dates is not None:
        out = out.withColumn(
            "is_holiday",
            F.to_date(F.col(stmt.time_column))
            .cast("string")
            .isin(holiday_dates)
            .cast("double"),
        )
    # drop null-label and null-time rows too: a null target row past
    # the lag warmup otherwise reaches the fit as a null label (raw
    # MLlib crash), and a null time makes NaN seasonal features.
    # Null EXOGENOUS values are dropped for the same reason — with
    # handleInvalid='keep' they'd become NaN features (NaN
    # predictions for linear models, NaN residuals that poison the
    # conformal bands: NaN sorts above every value in approxQuantile)
    return out.na.drop(
        subset=[f"lag_{k}" for k in stmt.lags]
        + [f"exog_{i}" for i in range(len(stmt.exog))]
        + [stmt.target, stmt.time_column]
    )


_MIN_CALIB_ROWS = 8  # below this a holdout tail is too small to split


def _residual_bands(
    model, pipeline, frame: DataFrame, stmt: ForecastModel,
    levels: List[float],
) -> dict:
    """Split-conformal interval offsets: residual quantiles per level,
    calibrated on a HELD-OUT tail of the history (the most recent
    ~25%, min 2 rows). A calibration model is refit on the head only;
    quantiles of its out-of-sample tail residuals band the
    full-history model's forecasts — in-sample residuals would be
    anti-conservative for overfitting learners (the ``prophet`` alias
    is a GBT whose training residuals shrink toward zero). Histories
    shorter than ``_MIN_CALIB_ROWS`` fall back to in-sample residuals
    (bands may undercover at that size; the history is too short for
    any split to be meaningful). The refit is cheap: the forecast
    frame is an aggregate-plane time series, not the raw fact table.

    One distributed ``approxQuantile`` call over the residuals;
    returns {level: (lo_off, hi_off)}. relativeError is small but
    NON-zero: epsilon=0 disables Greenwald-Khanna summary compression,
    buffering every residual into the driver-side merge — exactly the
    unbounded driver materialization the rest of the pipeline avoids.
    Values for increasing probabilities come from one summary, so band
    nesting (lo95 ≤ lo80 ≤ hi80 ≤ hi95) is preserved under the
    approximation.
    """
    n = frame.count()
    calib_model, calib_frame = model, frame
    if n >= _MIN_CALIB_ROWS:
        head_n = n - max(2, n // 4)
        w = W.orderBy(F.col(stmt.time_column))
        ranked = frame.withColumn("_rn", F.row_number().over(w))
        calib_model = pipeline.fit(
            ranked.filter(F.col("_rn") <= head_n).drop("_rn")
        )
        calib_frame = ranked.filter(F.col("_rn") > head_n).drop("_rn")
    resid = calib_model.transform(calib_frame).select(
        (F.col("label") - F.col("prediction")).alias("resid")
    )
    probs: list[float] = []
    for p in levels:
        probs.extend([(1.0 - p) / 2.0, (1.0 + p) / 2.0])
    qs = resid.stat.approxQuantile("resid", probs, 1.0e-4)
    return {p: (qs[2 * i], qs[2 * i + 1]) for i, p in enumerate(levels)}


def train_forecast(
    spark: SparkSession, stmt: ForecastModel, model_dir: Optional[str] = None
):
    """Fit the forecasting pipeline and return (TrainedModel, forecast_df)."""
    from declarativeml_spark.ml.models import registry_save
    from declarativeml_spark.ml.training import TrainedModel, _compute_metrics

    alg = _FORECAST_ALIASES.get(stmt.algorithm, stmt.algorithm)
    spec = get_algorithm(alg)
    if spec.kind != "regression":
        raise ValueError(
            f"FORECAST requires a regression algorithm, got {stmt.algorithm!r}"
        )

    est_params, fc_params = _split_params(stmt)
    holiday_dates = (
        _holiday_dates(spark, fc_params["holidays"])
        if fc_params.get("holidays")
        else None
    )
    df = resolve_source(spark, stmt.source, stmt.source_is_identifier)
    frame = build_forecast_frame(df, stmt, holiday_dates)
    feats = _feature_cols(stmt)
    # persisted: the ordered-window feature build feeds the fit, the
    # metrics transform, and (with confidence levels) the calibration
    # count/refit/transform — five scans of the same single-shuffle
    # pass without the persist
    frame = frame.withColumn(
        "label", F.col(stmt.target).cast("double")
    ).persist()

    pipeline = Pipeline(
        stages=[
            VectorAssembler(inputCols=feats, outputCol="features", handleInvalid="keep"),
            spec.build(est_params, featuresCol="features", labelCol="label"),
        ]
    )
    # try/finally: a fit/metrics/calibration exception must not leak
    # the persisted feature plane for the session's lifetime —
    # everything that reads `frame` is materialized inside the block
    try:
        # the friendly short-history message in forecast() runs AFTER
        # the fit — an empty post-lag-warmup frame would die inside
        # MLlib with an opaque 'requirement failed' first
        if frame.limit(1).count() == 0:
            raise ValueError(
                f"Need at least {max(stmt.lags) + 1} observations to"
                f" forecast with lags {stmt.lags} (no rows survive the"
                " lag warm-up / null drop)"
            )
        model = pipeline.fit(frame)
        metrics = _compute_metrics(model, frame, spec, "label")

        trained = TrainedModel(
            name=stmt.name,
            # the RESOLVED algorithm, not the alias: registry
            # consumers (EVALUATE/MONITOR/compare_models) call
            # get_algorithm on this field, and 'prophet' is not a
            # REGISTRY entry
            algorithm=alg,
            version=1,
            pipeline_model=model,
            metrics=metrics,
            features=feats,
            target=stmt.target,
        )
        registry_save(spark, trained, base=model_dir)
        forecast_df = forecast(spark, model, df, stmt, holiday_dates)
        if stmt.confidence_levels:
            bands = _residual_bands(
                model, pipeline, frame, stmt, stmt.confidence_levels
            )
            for p in stmt.confidence_levels:
                lo_off, hi_off = bands[p]
                tag = int(round(p * 100))
                forecast_df = forecast_df.withColumn(
                    f"lo_{tag}", F.col("forecast") + F.lit(lo_off)
                ).withColumn(f"hi_{tag}", F.col("forecast") + F.lit(hi_off))
    finally:
        frame.unpersist()
    return trained, forecast_df


def forecast(
    spark: SparkSession,
    model,
    history_df: DataFrame,
    stmt: ForecastModel,
    holiday_dates: Optional[List[str]] = None,
) -> DataFrame:
    """Iterative h-step forecast from the tail of the history.

    Pulls only the last ``max(lags)`` (time, value) pairs to the
    driver; each step predicts one point and feeds it back as lag
    input. Step spacing comes from the declared horizon unit
    (``FORECAST 30 days AHEAD``) or, absent one, the median spacing
    of the tail. Exogenous regressors are unknowable for future rows
    — they are held at their last observed value (the standard naive
    scenario; callers wanting what-if paths re-run with a scenario
    table).
    """
    if stmt.time_column in ("step", "forecast"):
        # the result schema hardcodes step/forecast fields; a time
        # column reusing either name would emit duplicate columns and
        # break (or mis-bind) the confidence-band expressions
        raise ValueError(
            f"TIME COLUMN {stmt.time_column!r} collides with the"
            " forecast output schema (step, forecast) — alias it"
        )
    max_lag = max(stmt.lags)
    tail = (
        history_df.select(stmt.time_column, stmt.target)
        .orderBy(F.desc(stmt.time_column))
        .limit(max_lag + 8)
        .toPandas()
        .sort_values(stmt.time_column)
        .reset_index(drop=True)
    )
    if len(tail) < max_lag + 1:
        raise ValueError(
            f"Need at least {max_lag + 1} observations to forecast with lags {stmt.lags}"
        )
    if tail[stmt.target].isna().any() or tail[stmt.time_column].isna().any():
        # a NULL in the seed window would become a NaN lag feature:
        # linear models emit NaN (and the feedback loop poisons every
        # later step), tree models route it to an arbitrary branch —
        # silent garbage either way; fail loudly instead
        raise ValueError(
            f"history tail (last {len(tail)} rows) contains NULL"
            f" {stmt.target!r}/{stmt.time_column!r} values — clean or"
            " gap-fill the series before forecasting"
        )
    times = pd.to_datetime(tail[stmt.time_column])
    if stmt.horizon_unit:
        # unit vocabulary is validated at parse/IR time
        # (ForecastModel.__post_init__ rejects anything outside
        # FORECAST_UNITS, test-pinned equal to _UNIT_STEPS' keys)
        freq = _UNIT_STEPS[stmt.horizon_unit]
    else:
        freq = (times.diff().dropna()).median()
    values = list(tail[stmt.target].astype(float))
    last_time = times.iloc[-1]
    # only the trend feature consumes the history length — don't pay a
    # full source scan for trend-less forecasts
    n_hist = history_df.count() if stmt.trend else 0

    exog_last: dict[str, float] = {}
    if stmt.exog:
        last_row = (
            history_df.select(
                F.col(stmt.time_column).alias("_t"),
                *[
                    F.expr(e).cast("double").alias(f"exog_{i}")
                    for i, e in enumerate(stmt.exog)
                ],
            )
            .orderBy(F.desc("_t"))
            .limit(1)
            .collect()[0]
        )
        exog_last = {c: last_row[c] for c in _exog_cols(stmt)}
        nulls = sorted(c for c, v in exog_last.items() if v is None)
        if nulls:
            # Vectors.dense(None) would raise a bare TypeError
            # mid-horizon-loop; same loud policy as the tail check
            raise ValueError(
                "latest history row has NULL exogenous value(s)"
                f" {', '.join(nulls)} (of {stmt.exog}) — clean or"
                " gap-fill the regressors before forecasting"
            )
    holiday_set = set(holiday_dates or [])

    seasonal = _seasonal_terms(stmt)
    # score each step DRIVER-SIDE: the pipeline is assembler +
    # regressor, and MLlib regression models expose a local
    # .predict(Vector) — the per-step createDataFrame + transform +
    # first() alternative costs ~2 Spark jobs of pure scheduling
    # overhead per horizon step for a single row
    from pyspark.ml.linalg import Vectors

    feats = _feature_cols(stmt)
    reg_model = model.stages[-1]
    local_predict = getattr(reg_model, "predict", None)
    rows = []
    for step in range(1, stmt.horizon + 1):
        t_next = last_time + freq * step
        feat: dict = {}
        for k in stmt.lags:
            feat[f"lag_{k}"] = values[-k]
        if stmt.trend:
            feat["trend_idx"] = float(n_hist + step)
        if "dow" in seasonal:
            # pandas dayofweek: Mon=0..Sun=6; Spark dayofweek: Sun=1..Sat=7
            feat["dow"] = float((t_next.dayofweek + 1) % 7 + 1)
        if "month" in seasonal:
            feat["month"] = float(t_next.month)
        if "doy" in seasonal:
            feat["doy"] = float(t_next.dayofyear)
        feat.update(exog_last)
        if holiday_dates is not None:
            feat["is_holiday"] = float(t_next.strftime("%Y-%m-%d") in holiday_set)
        if local_predict is not None:
            yhat = local_predict(
                Vectors.dense([feat[c] for c in feats])
            )
        else:  # pragma: no cover — every registry regressor has predict
            pred_df = model.transform(
                spark.createDataFrame(pd.DataFrame([feat]))
            )
            yhat = pred_df.select("prediction").first()[0]
        values.append(float(yhat))
        rows.append((t_next.to_pydatetime(), step, float(yhat)))

    return spark.createDataFrame(
        rows, f"{stmt.time_column} timestamp, step int, forecast double"
    )
