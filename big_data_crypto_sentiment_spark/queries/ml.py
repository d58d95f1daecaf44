"""ML-flavored operators (SURVEY.md §2.11) re-expressed Spark-first.

  * M1 sentiment scoring column math — renormalize 3 class
    probabilities, score = P(pos) − P(neg), magnitude = P(pos)+P(neg),
    label = argmax, action = buy/sell, null row for empty input
    (dataflow/stream_join.py:327-344). The model itself is a per-row
    probability producer; here the probabilities are derived
    deterministically from the row key so the downstream math — the
    part the reference implements by hand — is fully oracle-checked.
  * M5 lexicon sentiment — VADER-style word-polarity scoring
    (eda/Data_Minions_EDA_Milestone4.ipynb cell 1) via regexp counts.
  * M4 forecast eval metrics — MAE/MSE/MAPE with clipped denominator
    (analytical_module/arima.py:123-137) over a naive lag-1 forecast.
  * M3 batch per-symbol model training — the reference's
    `grouped.rdd.map(train_row)` (arima.py:472-544) becomes
    groupBy().applyInPandas with a closed-form AR(1) fit, which keeps
    the operator shape (per-group pandas training over a resampled,
    forward-filled grid) while staying light on dependencies AND
    oracle-checkable: the AR(1) MLE has a closed form DuckDB can
    replicate (phi from demeaned lag products, h-step forecast
    μ + φ^h (x_T − μ)).

Scale notes: M1/M5/M4 are single-scan column math / one hash agg. M3
shuffles once on symbol; each group's grid (buckets, not raw rows)
flows through Arrow into one pandas call — the applyInPandas shape the
reference's collect_list-into-one-task trainer should have used.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._util import table
from .timeseries import q_ts_resample_ffill

HOLDOUT = 12          # grid points held out for evaluation
MIN_TRAIN = 50        # reference requires >50 train points (arima.py:319)
MAPE_CLIP = 1e-8      # arima.py:133 clips the denominator

POS_WORDS = ("fast", "big")
NEG_WORDS = ("slow", "small")


def _pseudo_prob(seed_mult: int):
    """Deterministic pseudo-probability from the row key (stands in for
    the sentiment model's per-class output; math downstream is exact)."""
    return ((F.col("event_id") * seed_mult) % 89 + 1) / 100


# --- M1: sentiment scoring column math ---
def q_ml_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = ev.select(
        "event_id", "event_type", "value",
        _pseudo_prob(7).alias("rneg"),
        _pseudo_prob(13).alias("rneu"),
        _pseudo_prob(29).alias("rpos"),
    )
    s = F.col("rneg") + F.col("rneu") + F.col("rpos")
    pneg, pneu, ppos = (F.col(c) / s for c in ("rneg", "rneu", "rpos"))
    score = ppos - pneg
    empty = F.col("value").isNull()  # stands in for the empty-text path
    label = (F.when(ppos >= F.greatest(pneu, pneg), "POSITIVE")
              .when(pneu >= pneg, "NEUTRAL")
              .otherwise("NEGATIVE"))
    return raw.select(
        "event_id", "event_type",
        F.when(empty, None).otherwise(score).alias("sentiment_score"),
        F.when(empty, None).otherwise(ppos + pneg).alias("sentiment_magnitude"),
        F.when(empty, None).otherwise(label).alias("sentiment_label"),
        F.when(empty, None)
         .otherwise(F.when(score > 0, "buy").otherwise("sell"))
         .alias("action_signal"),
    )


# --- M5: lexicon (VADER-style) sentiment over documents ---
def lexicon_polarity(t=None):
    """(n_pos, n_neg, polarity) column expressions over a text column —
    pure map-side math, reusable inline (the model-distillation teacher
    labels ride the SAME scan as the student's features; no self-join)."""
    t = F.col("text") if t is None else t
    n_pos = sum(F.regexp_count(t, F.lit(rf"\b{w}\b")) for w in POS_WORDS)
    n_neg = sum(F.regexp_count(t, F.lit(rf"\b{w}\b")) for w in NEG_WORDS)
    polarity = (n_pos - n_neg) / F.greatest(n_pos + n_neg, F.lit(1))
    return n_pos, n_neg, polarity


def q_ml_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n_pos, n_neg, polarity = lexicon_polarity()
    return d.select(
        "doc_id",
        n_pos.alias("n_pos"), n_neg.alias("n_neg"),
        F.round(polarity, 6).alias("polarity"),
        F.when(polarity > 0.05, "POSITIVE")
         .when(polarity < -0.05, "NEGATIVE")
         .otherwise("NEUTRAL").alias("lexicon_label"),
    )


# --- M4: forecast eval metrics (MAE / MSE / MAPE with clip) ---
def q_ml_forecast_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pred = (ev.select("event_type", "value",
                      F.lag("value").over(w).alias("fcst"))
              .filter(F.col("fcst").isNotNull()
                      & F.col("value").isNotNull()))
    err = F.col("value") - F.col("fcst")
    dec = lambda c: F.sum(c.cast("decimal(30,10)")).cast("double")  # noqa: E731
    n = F.count("*")
    return (pred.groupBy("event_type").agg(
        n.alias("n_points"),
        F.round(dec(F.abs(err)) / n, 6).alias("mae"),
        F.round(dec(err * err) / n, 6).alias("mse"),
        F.round(dec(F.abs(err) / F.greatest(F.abs(F.col("value")),
                                            F.lit(MAPE_CLIP))) / n, 6)
         .alias("mape"),
    ))


# --- M3: per-symbol AR(1) training via applyInPandas ---
_AR1_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_train", T.LongType()),
    T.StructField("phi", T.DoubleType()),
    T.StructField("mu", T.DoubleType()),
    T.StructField("mae", T.DoubleType()),
    T.StructField("mse", T.DoubleType()),
    T.StructField("mape", T.DoubleType()),
])


def _ar1_train(pdf: pd.DataFrame) -> pd.DataFrame:
    """Closed-form AR(1) fit + holdout eval on one symbol's ffilled grid.

    Mirrors the reference's per-symbol train fn shape (arima.py:298-408):
    resampled grid in, holdout split, fit, MAE/MSE/MAPE out.
    """
    sym = pdf["event_type"].iloc[0]
    x = (pdf.sort_values("bucket")["value_ffill"]
            .astype(float).to_numpy())
    x = x[~pd.isna(x)]
    if len(x) <= MIN_TRAIN + HOLDOUT:
        return pd.DataFrame([{ "event_type": sym, "n_train": len(x),
                               "phi": None, "mu": None,
                               "mae": None, "mse": None, "mape": None }])
    train, hold = x[:-HOLDOUT], x[-HOLDOUT:]
    mu = train.mean()
    d = train - mu
    denom = (d[:-1] ** 2).sum()
    phi = float((d[:-1] * d[1:]).sum() / denom) if denom else 0.0
    last = train[-1]
    fc = mu + (phi ** pd.RangeIndex(1, HOLDOUT + 1).to_numpy()) * (last - mu)
    err = hold - fc
    mape = (abs(err) / pd.Series(abs(hold)).clip(lower=MAPE_CLIP)).mean()
    return pd.DataFrame([{
        "event_type": sym, "n_train": int(len(train)),
        "phi": round(phi, 6), "mu": round(float(mu), 6),
        "mae": round(float(abs(err).mean()), 6),
        "mse": round(float((err ** 2).mean()), 6),
        "mape": round(float(mape), 6),
    }])


# Both trainers consume the same resampled+ffilled grid; build it once
# per (session, sf_dir) and persist — in a bench/driver run ml_ar1_train
# and ml_ar_train would otherwise each re-run the full spine+ffill plan.
# The grid is buckets×symbols (tiny relative to raw events), so the
# cache is bounded; at 100 TB you'd materialize it as a table once.
_GRID_CACHE: dict[tuple[str, str], DataFrame] = {}


def _shared_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _GRID_CACHE:
        from pyspark import StorageLevel
        _GRID_CACHE[key] = (q_ts_resample_ffill(spark, sf_dir)
                            .persist(StorageLevel.MEMORY_AND_DISK))
    return _GRID_CACHE[key]


def q_ml_ar1_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _shared_grid(spark, sf_dir)
    return grid.groupBy("event_type").applyInPandas(_ar1_train, _AR1_SCHEMA)


# --- M3 full fidelity: holdout-selected AR(p<=5) order search — the
#     auto_arima(seasonal=False, stepwise, max_p=5) analog
#     (analytical_module/arima.py:250-260) as a Yule-Walker grid inside
#     the same applyInPandas shape; deterministic, dependency-light.
#     Rows-only: the per-order linear solve isn't SQL-expressible. ---
MAX_AR_ORDER = 5

_AR_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_train", T.LongType()),
    T.StructField("chosen_p", T.IntegerType()),
    T.StructField("phi", T.StringType()),   # comma-joined, round(6)
    T.StructField("mu", T.DoubleType()),
    T.StructField("mae", T.DoubleType()),
    T.StructField("mse", T.DoubleType()),
    T.StructField("mape", T.DoubleType()),
])


def _yule_walker(x, p: int):
    """AR(p) coefficients from the biased sample autocovariances (the
    classical Yule-Walker normal equations; deterministic closed form)."""
    import numpy as np
    n = len(x)
    d = x - x.mean()
    r = np.array([(d[: n - k] * d[k:]).sum() / n for k in range(p + 1)])
    R = np.array([[r[abs(i - j)] for j in range(p)] for i in range(p)])
    return np.linalg.solve(R, r[1: p + 1])


def _ar_forecast(train, phi, mu, horizon: int):
    """Iterated h-step-ahead forecast from the train tail (predictions
    feed back in, as statsmodels' dynamic forecast does)."""
    import numpy as np
    p = len(phi)
    hist = list(train[-p:] - mu)
    out = []
    for _ in range(horizon):
        nxt = float(np.dot(phi[::-1], hist[-p:]))
        out.append(nxt)
        hist.append(nxt)
    return np.array(out) + mu


def _ar_train(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-symbol order search: fit AR(p) for p=1..5 on the train split,
    pick the order with the lowest holdout MAE (the stepwise-search
    outcome of arima.py:250-260 on a non-seasonal series), report its
    coefficients and holdout metrics."""
    import numpy as np
    sym = pdf["event_type"].iloc[0]
    x = pdf.sort_values("bucket")["value_ffill"].astype(float).to_numpy()
    x = x[~pd.isna(x)]
    if len(x) <= MIN_TRAIN + HOLDOUT:
        return pd.DataFrame([{
            "event_type": sym, "n_train": len(x), "chosen_p": None,
            "phi": None, "mu": None, "mae": None, "mse": None, "mape": None}])
    train, hold = x[:-HOLDOUT], x[-HOLDOUT:]
    mu = float(train.mean())
    best = None
    for p in range(1, MAX_AR_ORDER + 1):
        try:
            phi = _yule_walker(train, p)
        except Exception:
            continue
        fc = _ar_forecast(train, phi, mu, HOLDOUT)
        err = hold - fc
        mae = float(np.abs(err).mean())
        if best is None or mae < best[0]:
            best = (mae, p, phi, err)
    if best is None:
        # every order failed to fit — a constant train series (realistic
        # after forward-fill of a sparse symbol) makes the Yule-Walker
        # autocovariance matrix singular for all p. Degenerate group →
        # null-metrics row (same shape as the short-series path), never
        # a job-killing unpack of None.
        return pd.DataFrame([{
            "event_type": sym, "n_train": int(len(train)), "chosen_p": None,
            "phi": None, "mu": round(mu, 6),
            "mae": None, "mse": None, "mape": None}])
    mae, p, phi, err = best
    mape = float((np.abs(err) / np.clip(np.abs(hold), MAPE_CLIP, None)).mean())
    return pd.DataFrame([{
        "event_type": sym, "n_train": int(len(train)), "chosen_p": int(p),
        "phi": ",".join(str(round(float(c), 6)) for c in phi),
        "mu": round(mu, 6),
        "mae": round(mae, 6),
        "mse": round(float((err ** 2).mean()), 6),
        "mape": round(mape, 6),
    }])


def ar_train(grid: DataFrame) -> DataFrame:
    """Order-searched AR training over any (event_type, bucket,
    value_ffill) grid — one shuffle on symbol, one Arrow batch per
    group, exactly the reference's per-symbol-training operator shape."""
    return grid.groupBy("event_type").applyInPandas(_ar_train, _AR_SCHEMA)


def _with_n_events(spark: SparkSession, sf_dir: str,
                   df: DataFrame) -> DataFrame:
    """Append the global event count as a literal column — the
    frozen-fit lookup key that separates the fixture SFs (a bounded
    parquet-stats count, the zorder one-row-stats discipline without
    the nested-loop join)."""
    n = table(spark, sf_dir, "events").count()
    return df.withColumn("n_events", F.lit(int(n)).cast("long"))


def q_ml_ar_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_n_events(spark, sf_dir,
                          ar_train(_shared_grid(spark, sf_dir)))


# --- M3 full fidelity, MA side: ARMA(p,q) order search via the
#     Hannan–Rissanen two-stage closed form (Hannan & Rissanen 1982) —
#     the dependency-light public analog of the reference's
#     auto_arima(seasonal=False, stepwise, max_p=5, max_q=5) search
#     (analytical_module/arima.py:250-260), which explores MA orders the
#     AR-only trainer above cannot. Stage 1: long-AR Yule-Walker
#     residuals stand in for the unobserved innovations; stage 2: OLS of
#     x_t on p lags of x and q lags of those residuals gives (phi,
#     theta) in closed form. Same one-shuffle applyInPandas shape;
#     rows-only (per-order least squares isn't SQL-expressible). ---
MAX_ARMA_ORDER = 5

_ARMA_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_train", T.LongType()),
    T.StructField("chosen_p", T.IntegerType()),
    T.StructField("chosen_q", T.IntegerType()),
    T.StructField("phi", T.StringType()),    # comma-joined, round(6)
    T.StructField("theta", T.StringType()),  # comma-joined, round(6)
    T.StructField("mu", T.DoubleType()),
    T.StructField("mae", T.DoubleType()),
    T.StructField("mse", T.DoubleType()),
    T.StructField("mape", T.DoubleType()),
])


def _hannan_rissanen(x, p: int, q: int, m: int | None = None):
    """(phi, theta, resid) for a DEMEANED series x: stage-1 AR(m)
    Yule-Walker residuals, stage-2 least squares on [x lags, e lags].
    resid is the stage-2 innovation sequence aligned to x (NaN where
    undefined), used to seed forecasts."""
    import numpy as np
    n = len(x)
    if m is None:
        m = min(max(2 * (p + q), 10), max(n // 4, 1))
    r = np.array([(x[: n - k] * x[k:]).sum() / n for k in range(m + 1)])
    R = np.array([[r[abs(i - j)] for j in range(m)] for i in range(m)])
    phi_long = np.linalg.solve(R, r[1: m + 1])
    e = np.full(n, np.nan)
    idx = np.arange(m, n)
    lag_mat = np.column_stack([x[idx - k] for k in range(1, m + 1)])
    e[idx] = x[idx] - lag_mat @ phi_long
    start = m + q
    t = np.arange(start, n)
    cols = [x[t - k] for k in range(1, p + 1)]
    cols += [e[t - k] for k in range(1, q + 1)]
    if not cols:
        raise ValueError("p == q == 0")
    X = np.column_stack(cols)
    beta, *_ = np.linalg.lstsq(X, x[t], rcond=None)
    phi, theta = beta[:p], beta[p:]
    resid = np.full(n, np.nan)
    resid[t] = x[t] - X @ beta
    return phi, theta, resid


def _arma_forecast(train, phi, theta, resid, mu, horizon: int):
    """Iterated h-step forecast: future innovations are 0, known
    stage-2 residuals feed the first q steps (standard ARMA forecast
    recursion)."""
    import numpy as np
    p, q = len(phi), len(theta)
    hist = list(train - mu)
    errs = list(np.nan_to_num(resid, nan=0.0))
    out = []
    for _ in range(horizon):
        nxt = 0.0
        if p:
            nxt += float(np.dot(phi, [hist[-k] for k in range(1, p + 1)]))
        if q:
            nxt += float(np.dot(theta, [errs[-k] for k in range(1, q + 1)]))
        out.append(nxt)
        hist.append(nxt)
        errs.append(0.0)
    return np.array(out) + mu


def _arma_select(train, hold):
    """Shared (p,q) grid search p,q <= MAX_ARMA_ORDER (p+q >= 1) with
    holdout-MAE selection — the stepwise auto_arima outcome in closed
    form. Returns (mae, p, q, phi, theta, err, mu) or None when no
    order produces a finite fit."""
    import numpy as np
    mu = float(train.mean())
    d = train - mu
    best = None
    for p in range(MAX_ARMA_ORDER + 1):
        for q in range(MAX_ARMA_ORDER + 1):
            if p + q == 0:
                continue
            try:
                phi, theta, resid = _hannan_rissanen(d, p, q)
                if not (np.all(np.isfinite(phi))
                        and np.all(np.isfinite(theta))):
                    continue
                fc = _arma_forecast(train, phi, theta, resid, mu,
                                    len(hold))
            except Exception:
                continue
            err = hold - fc
            mae = float(np.abs(err).mean())
            if np.isfinite(mae) and (best is None or mae < best[0]):
                best = (mae, p, q, phi, theta, err, mu)
    return best


def _arma_train(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-symbol ARMA fit via the shared _arma_select grid search."""
    import numpy as np
    sym = pdf["event_type"].iloc[0]
    x = pdf.sort_values("bucket")["value_ffill"].astype(float).to_numpy()
    x = x[~pd.isna(x)]
    null_row = {
        "event_type": sym, "n_train": len(x), "chosen_p": None,
        "chosen_q": None, "phi": None, "theta": None, "mu": None,
        "mae": None, "mse": None, "mape": None}
    if len(x) <= MIN_TRAIN + HOLDOUT:
        return pd.DataFrame([null_row])
    train, hold = x[:-HOLDOUT], x[-HOLDOUT:]
    best = _arma_select(train, hold)
    if best is None:
        null_row.update({"n_train": int(len(train)),
                         "mu": round(float(train.mean()), 6)})
        return pd.DataFrame([null_row])
    mae, p, q, phi, theta, err, mu = best
    mape = float((np.abs(err) / np.clip(np.abs(hold), MAPE_CLIP, None)).mean())
    join6 = lambda v: ",".join(str(round(float(c), 6)) for c in v)
    return pd.DataFrame([{
        "event_type": sym, "n_train": int(len(train)),
        "chosen_p": int(p), "chosen_q": int(q),
        "phi": join6(phi) or None, "theta": join6(theta) or None,
        "mu": round(mu, 6),
        "mae": round(mae, 6),
        "mse": round(float((err ** 2).mean()), 6),
        "mape": round(mape, 6),
    }])


def arma_train(grid: DataFrame) -> DataFrame:
    """Hannan–Rissanen ARMA training over any (event_type, bucket,
    value_ffill) grid — one shuffle on symbol, one Arrow batch per
    group, same operator shape as ar_train."""
    return grid.groupBy("event_type").applyInPandas(_arma_train, _ARMA_SCHEMA)


def q_ml_arma_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_n_events(spark, sf_dir,
                          arma_train(_shared_grid(spark, sf_dir)))


# --- Expanding-window temporal CV for the ARMA trainer: the
#     reference's holdout discipline (analytical_module/arima.py:
#     237-291 — fixed-size tail holdout + the >=MIN_TRAIN-train-points
#     gate) applied per expanding fold, the same fold contract M6's
#     temporal_cv_tfidf_ridge uses. Unlike the TF-IDF folds (each an
#     iterative distributed MLlib fit), the whole per-symbol fold loop
#     runs INSIDE one applyInPandas group — one shuffle on symbol
#     total, folds are pure numpy on an already-local series, so CV
#     costs one pass regardless of fold count. Rows-only: HR lstsq. ---
ARMA_CV_FOLDS = 4

_ARMA_CV_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("fold", T.StringType()),
    T.StructField("n_train", T.IntegerType()),
    T.StructField("n_test", T.IntegerType()),
    T.StructField("chosen_p", T.IntegerType()),
    T.StructField("chosen_q", T.IntegerType()),
    T.StructField("mae", T.DoubleType()),
    T.StructField("mse", T.DoubleType()),
    T.StructField("mape", T.DoubleType()),
    T.StructField("gated", T.BooleanType()),
])


def _arma_cv(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-symbol expanding-window CV: the last ARMA_CV_FOLDS
    consecutive HOLDOUT-sized blocks are the test folds; each fold
    trains on EVERYTHING strictly before its block (no future
    leakage). A fold whose train slice has < MIN_TRAIN points is
    emitted gated=True with null metrics — the reference's
    too-little-history skip, kept visible instead of silent. A 'mean'
    row aggregates the ungated folds."""
    import numpy as np
    sym = pdf["event_type"].iloc[0]
    x = pdf.sort_values("bucket")["value_ffill"].astype(float).to_numpy()
    x = x[~pd.isna(x)]
    n = len(x)
    rows = []
    for fold in range(1, ARMA_CV_FOLDS + 1):
        cut = n - (ARMA_CV_FOLDS - fold + 1) * HOLDOUT
        # a negative cut (series shorter than the fold grid) has an
        # empty-or-partial test block; report its true size and never
        # slice with a negative start (python would wrap)
        n_test = max(min(cut + HOLDOUT, n), 0) - max(cut, 0)
        row = {"event_type": sym, "fold": str(fold),
               "n_train": max(int(cut), 0), "n_test": int(n_test),
               "chosen_p": None, "chosen_q": None, "mae": None,
               "mse": None, "mape": None, "gated": True}
        if cut >= MIN_TRAIN:
            best = _arma_select(x[:cut], x[cut:cut + HOLDOUT])
            if best is not None:
                mae, p, q, phi, theta, err, mu = best
                hold = x[cut:cut + HOLDOUT]
                mape = float((np.abs(err)
                              / np.clip(np.abs(hold), MAPE_CLIP,
                                        None)).mean())
                row.update({
                    "chosen_p": int(p), "chosen_q": int(q),
                    "mae": round(mae, 6),
                    "mse": round(float((err ** 2).mean()), 6),
                    "mape": round(mape, 6), "gated": False})
        rows.append(row)
    ok = [r for r in rows if not r["gated"]]
    if ok:
        rows.append({
            "event_type": sym, "fold": "mean",
            "n_train": sum(r["n_train"] for r in ok),
            "n_test": sum(r["n_test"] for r in ok),
            "chosen_p": None, "chosen_q": None,
            "mae": round(sum(r["mae"] for r in ok) / len(ok), 6),
            "mse": round(sum(r["mse"] for r in ok) / len(ok), 6),
            "mape": round(sum(r["mape"] for r in ok) / len(ok), 6),
            "gated": False})
    return pd.DataFrame(rows, columns=[f.name for f in _ARMA_CV_SCHEMA])


def arma_cv(grid: DataFrame) -> DataFrame:
    return grid.groupBy("event_type").applyInPandas(_arma_cv,
                                                    _ARMA_CV_SCHEMA)


def q_ml_arma_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_n_events(spark, sf_dir,
                          arma_cv(_shared_grid(spark, sf_dir)))


# --- M3 full auto-ARIMA analog (r12 verdict #5): the reference calls
#     pm.auto_arima(seasonal=False, stepwise=True, max_p=5, max_q=5,
#     d=None) (analytical_module/arima.py:250-260). The grid searches
#     above cover exhaustive (p,q) selection; this adds the two
#     missing pieces with public math only:
#       * d=None → differencing-order selection by the KPSS level-
#         stationarity test (Kwiatkowski et al. 1992): difference
#         until the statistic clears the 5% critical value, d ≤ 2 —
#         pmdarima's default d-selection test;
#       * stepwise=True → the Hyndman–Khandakar (2008) stepwise walk:
#         four standard starting orders, then greedy moves to the
#         best AIC neighbor until no neighbor improves — visiting a
#         fraction of the 36-point grid.
#     Fits are the same Hannan–Rissanen closed form, with ONE shared
#     stage-1 innovation sequence and a COMMON residual window so
#     AICs are comparable across orders. Rows-only (iterative
#     numpy-in-applyInPandas); d/stepwise recovery pinned in
#     tests/test_ml.py. ---
KPSS_CRIT_5PCT = 0.463
MAX_DIFF = 2
_STEPWISE_STARTS = ((2, 2), (0, 0), (1, 0), (0, 1))


def _kpss_stat(x) -> float:
    """KPSS level-stationarity statistic: eta = Σ S_t² / (n²·lrv),
    long-run variance via the Bartlett window with the standard
    4·(n/100)^0.25 lag truncation."""
    import numpy as np
    n = len(x)
    e = x - x.mean()
    s = np.cumsum(e)
    lags = int(4 * (n / 100.0) ** 0.25)
    lrv = float((e * e).sum() / n)
    g0 = lrv
    for k in range(1, min(lags, n - 1) + 1):
        w = 1.0 - k / (lags + 1.0)
        lrv += 2.0 * w * float((e[:-k] * e[k:]).sum() / n)
    if lrv <= 0:
        lrv = g0 if g0 > 0 else 1e-300
    return float((s * s).sum() / (n * n * lrv))


def _select_d(x, max_d: int = MAX_DIFF) -> int:
    """Smallest d ≤ max_d whose d-times-differenced series passes the
    KPSS 5% level-stationarity test (the auto_arima d=None rule)."""
    import numpy as np
    for d in range(max_d + 1):
        y = np.diff(x, n=d) if d else x
        if len(y) < 8:
            return d
        if _kpss_stat(y) < KPSS_CRIT_5PCT:
            return d
    return max_d


def _stepwise_arma(y, max_order: int = MAX_ARMA_ORDER):
    """Hyndman–Khandakar stepwise (p,q) walk over Hannan–Rissanen fits
    of a DEMEANED series y. Stage 1 runs ONCE (one long-AR innovation
    sequence shared by every candidate) and every candidate's AIC is
    computed over the SAME residual window t ≥ m+max_order, so AICs
    are comparable. Returns (p, q, phi, theta, resid, aic, n_fits) —
    resid aligned to y (NaN outside the window) for forecast seeding."""
    import numpy as np
    n = len(y)
    m = min(max(2 * max_order, 10), max(n // 4, 1))
    r = np.array([(y[: n - k] * y[k:]).sum() / n for k in range(m + 1)])
    R = np.array([[r[abs(i - j)] for j in range(m)] for i in range(m)])
    phi_long = np.linalg.solve(R, r[1: m + 1])
    e = np.full(n, np.nan)
    idx = np.arange(m, n)
    lag_mat = np.column_stack([y[idx - k] for k in range(1, m + 1)])
    e[idx] = y[idx] - lag_mat @ phi_long
    start = m + max_order
    t = np.arange(start, n)
    nt = len(t)
    if nt < 4:
        raise ValueError("series too short for the stepwise window")
    cache: dict[tuple, tuple] = {}

    def fit(p: int, q: int):
        if (p, q) in cache:
            return cache[(p, q)]
        if p == 0 and q == 0:
            resid_t = y[t]
            beta = np.array([])
        else:
            cols = [y[t - k] for k in range(1, p + 1)]
            cols += [e[t - k] for k in range(1, q + 1)]
            X = np.column_stack(cols)
            beta, *_ = np.linalg.lstsq(X, y[t], rcond=None)
            resid_t = y[t] - X @ beta
        sse = float((resid_t * resid_t).sum())
        k = p + q + 1
        aic = nt * math.log(max(sse / nt, 1e-300)) + 2 * k
        if not np.all(np.isfinite(beta)):
            aic = math.inf
        cache[(p, q)] = (aic, beta[:p], beta[p:], resid_t)
        return cache[(p, q)]

    best_pq = min(_STEPWISE_STARTS, key=lambda pq: fit(*pq)[0])
    moves = ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (-1, -1))
    while True:
        cands = [(best_pq[0] + dp, best_pq[1] + dq)
                 for dp, dq in moves
                 if 0 <= best_pq[0] + dp <= max_order
                 and 0 <= best_pq[1] + dq <= max_order]
        nxt = min(cands, key=lambda pq: fit(*pq)[0])
        if fit(*nxt)[0] < fit(*best_pq)[0]:
            best_pq = nxt
        else:
            break
    p, q = best_pq
    aic, phi, theta, resid_t = fit(p, q)
    resid = np.full(n, np.nan)
    resid[t] = resid_t
    return p, q, phi, theta, resid, aic, len(cache)


def _integrate_forecast(train, fc_diff, d: int):
    """Undo d rounds of differencing: cumulative-sum the differenced
    forecast back up through the last observed levels."""
    import numpy as np
    fc = np.asarray(fc_diff, dtype=float)
    for k in range(d, 0, -1):
        last = float(np.diff(train, n=k - 1)[-1]) if k > 1 \
            else float(train[-1])
        fc = last + np.cumsum(fc)
    return fc


_AUTO_ARIMA_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_train", T.LongType()),
    T.StructField("kpss_d0", T.DoubleType()),
    T.StructField("chosen_d", T.IntegerType()),
    T.StructField("chosen_p", T.IntegerType()),
    T.StructField("chosen_q", T.IntegerType()),
    T.StructField("n_fits", T.IntegerType()),
    T.StructField("aic", T.DoubleType()),
    T.StructField("phi", T.StringType()),
    T.StructField("theta", T.StringType()),
    T.StructField("mae", T.DoubleType()),
    T.StructField("mse", T.DoubleType()),
    T.StructField("mape", T.DoubleType()),
])


def _auto_arima_train(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np
    sym = pdf["event_type"].iloc[0]
    x = pdf.sort_values("bucket")["value_ffill"].astype(float).to_numpy()
    x = x[~pd.isna(x)]
    null_row = {
        "event_type": sym, "n_train": len(x), "kpss_d0": None,
        "chosen_d": None,
        "chosen_p": None, "chosen_q": None, "n_fits": None, "aic": None,
        "phi": None, "theta": None, "mae": None, "mse": None,
        "mape": None}
    if len(x) <= MIN_TRAIN + HOLDOUT:
        return pd.DataFrame([null_row])
    train, hold = x[:-HOLDOUT], x[-HOLDOUT:]
    null_row["kpss_d0"] = round(float(_kpss_stat(train)), 6)
    try:
        d = _select_d(train)
        y = np.diff(train, n=d) if d else train.copy()
        mu = float(y.mean())
        p, q, phi, theta, resid, aic, n_fits = _stepwise_arma(y - mu)
        fc_diff = _arma_forecast(y, phi, theta, resid, mu, HOLDOUT)
        fc = _integrate_forecast(train, fc_diff, d)
    except Exception:
        null_row["n_train"] = int(len(train))
        return pd.DataFrame([null_row])
    err = hold - fc
    if not np.all(np.isfinite(err)):
        null_row["n_train"] = int(len(train))
        return pd.DataFrame([null_row])
    join6 = lambda v: ",".join(str(round(float(c), 6)) for c in v)
    mape = float((np.abs(err)
                  / np.clip(np.abs(hold), MAPE_CLIP, None)).mean())
    return pd.DataFrame([{
        "event_type": sym, "n_train": int(len(train)),
        "kpss_d0": round(float(_kpss_stat(train)), 6),
        "chosen_d": int(d), "chosen_p": int(p), "chosen_q": int(q),
        "n_fits": int(n_fits), "aic": round(float(aic), 6),
        "phi": join6(phi) or None, "theta": join6(theta) or None,
        "mae": round(float(np.abs(err).mean()), 6),
        "mse": round(float((err ** 2).mean()), 6),
        "mape": round(mape, 6),
    }])


def auto_arima_train(grid: DataFrame) -> DataFrame:
    """KPSS-differenced, AIC-stepwise ARIMA(p,d,q) training over any
    (event_type, bucket, value_ffill) grid — same one-shuffle
    applyInPandas shape as ar_train/arma_train."""
    return grid.groupBy("event_type").applyInPandas(
        _auto_arima_train, _AUTO_ARIMA_SCHEMA)


def q_ml_auto_arima(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_n_events(spark, sf_dir,
                          auto_arima_train(_shared_grid(spark, sf_dir)))


# --- auto-ARIMA selection-surface graduation (VERDICT r13 #7): the
#     KPSS statistic and the stepwise-chosen (p,d,q) per symbol are
#     deterministic given the fixture, so the SELECTION goes under the
#     driver hash via the frozen-expected recipe: the fitted outcomes
#     freeze to literals keyed by (event_type, n_events) — the GLOBAL
#     event count separates the three SFs (the hourly grid spans the
#     same range at every SF, so n_train alone is ambiguous), and the
#     oracle RECOMPUTES both the key and n_train from the same
#     events scan / resample-ffill grid SQL the ml_ar1_train oracle
#     uses, so a fixture change makes the lookup miss loudly
#     (rowcount mismatch) instead of silently passing stale literals.
#     The FIT surface (phi/theta/aic/holdout metrics) stays rows-only
#     in ml_auto_arima with its pytest recovery evidence.
#     Regenerate the literals: python tools/freeze_auto_arima.py ---
AUTO_ARIMA_EXPECTED: tuple[tuple, ...] = (
    # (event_type, n_events, n_train, kpss_d0_repr, d, p, q, n_fits)
    ('click', 1000, 694, 0.080492, 0, 1, 1, 10),
    ('error', 1000, 701, 0.250772, 0, 1, 1, 10),
    ('purchase', 1000, 708, 0.506606, 1, 4, 4, 16),
    ('signup', 1000, 703, 0.229745, 0, 2, 0, 9),
    ('view', 1000, 702, 0.198267, 0, 1, 2, 12),
    ('click', 10000, 708, 0.052688, 0, 0, 1, 7),
    ('error', 10000, 708, 0.030462, 0, 0, 0, 5),
    ('purchase', 10000, 708, 0.207035, 0, 0, 0, 5),
    ('signup', 10000, 708, 0.206193, 0, 1, 0, 7),
    ('view', 10000, 708, 0.186563, 0, 1, 0, 7),
    ('click', 100000, 708, 0.134693, 0, 0, 0, 5),
    ('error', 100000, 708, 0.066857, 0, 0, 0, 5),
    ('purchase', 100000, 708, 0.041866, 0, 0, 0, 5),
    ('signup', 100000, 708, 0.539153, 1, 4, 5, 17),
    ('view', 100000, 708, 0.230615, 0, 2, 0, 9),
)


# --- frozen-fit graduation (late r14, extending the orders recipe to
#     the FULL fit surfaces): ml_ar_train / ml_arma_train / ml_arma_cv
#     / ml_auto_arima are per-symbol numpy closed forms inside ONE
#     applyInPandas group each — partition-independent, single-host
#     deterministic, every float already round(6) — so their complete
#     outputs freeze to literals keyed by the recomputed global event
#     count. The pair is SELF-CHECKING: the Spark side always computes
#     the live fit, so any live/frozen divergence (a numpy change, a
#     fit regression, a fixture edit) is a red driver row, and a
#     fixture swap that changes the event count misses the lookup join
#     loudly. The MLlib-distributed fits (tfidf/sentiment/LDA/perm-
#     importance) stay rows-only: their reductions are partitioning-
#     dependent float sums with no such determinism contract.
#     Regenerate: python tools/freeze_ml_fits.py ---
_FROZEN_FIT_COLS: dict[str, list[str]] = {
    "ml_ar_train": ["event_type", "n_train", "chosen_p", "phi", "mu",
                    "mae", "mse", "mape"],
    "ml_arma_train": ["event_type", "n_train", "chosen_p", "chosen_q",
                      "phi", "theta", "mu", "mae", "mse", "mape"],
    "ml_arma_cv": ["event_type", "fold", "n_train", "n_test",
                   "chosen_p", "chosen_q", "mae", "mse", "mape",
                   "gated"],
    "ml_auto_arima": ["event_type", "n_train", "kpss_d0", "chosen_d",
                      "chosen_p", "chosen_q", "n_fits", "aic", "phi",
                      "theta", "mae", "mse", "mape"],
}
ML_FIT_EXPECTED: dict[str, tuple[tuple, ...]] = {
    # name -> ((*cols, n_events), ...) — generated by
    # tools/freeze_ml_fits.py; regenerate on any fixture change
    'ml_ar_train': (
        ('click', 694, 1, '0.67597', 44.881816, 18.985531, 445.327001, 0.785597, 1000),
        ('error', 701, 3, '0.564634,0.1256,0.034803', 44.854108, 21.117635, 626.322646, 1.71248, 1000),
        ('purchase', 708, 3, '0.694909,-0.028702,-0.012757', 45.756257, 24.029416, 666.821505, 0.690606, 1000),
        ('signup', 703, 1, '0.762725', 56.341508, 26.059053, 850.340976, 2.984001, 1000),
        ('view', 702, 5, '0.666035,-0.142063,0.154804,-0.040332,0.084779', 46.834188, 29.680917, 1392.003286, 0.540603, 1000),
        ('click', 708, 5, '0.080967,-0.02441,0.040132,-0.004938,-0.01652', 52.551455, 42.501914, 3489.781143, 1.202443, 10000),
        ('error', 708, 3, '0.00456,-0.012094,0.038322', 49.854718, 40.086094, 2663.417558, 3.731961, 10000),
        ('purchase', 708, 3, '0.047977,-0.032916,-0.015854', 52.04072, 30.161394, 1115.387861, 9.146303, 10000),
        ('signup', 708, 5, '0.098487,0.032599,-0.043386,-0.044534,-0.028244', 52.426751, 43.328536, 5459.555786, 0.887891, 10000),
        ('view', 708, 4, '0.167104,-0.002013,0.080545,-0.023353', 47.184421, 41.528493, 2526.300324, 7.316621, 10000),
        ('click', 708, 5, '0.018631,0.015161,-0.022437,0.001539,-0.040676', 47.626441, 56.999104, 5499.855889, 11.654416, 100000),
        ('error', 708, 4, '-0.041601,-0.039867,0.020182,-0.017923', 50.627161, 44.721556, 3479.502849, 9.725758, 100000),
        ('purchase', 708, 4, '0.009822,0.003263,0.033692,0.053928', 45.786201, 59.726948, 6950.144912, 0.87791, 100000),
        ('signup', 708, 1, '-0.005238', 51.777839, 35.280958, 1595.195396, 4.132048, 100000),
        ('view', 708, 5, '-0.085357,0.059619,0.018449,-0.033655,-0.009845', 50.525325, 42.502276, 3749.979741, 2.784142, 100000),
    ),
    'ml_arma_train': (
        ('click', 694, 0, 3, None, '0.587099,0.449451,0.373101', 44.881816, 17.283734, 367.96875, 0.717542, 1000),
        ('error', 701, 1, 1, '0.810287', '-0.271777', 44.854108, 21.02918, 621.526556, 1.705022, 1000),
        ('purchase', 708, 2, 2, '0.702084,-0.072424', '-0.006733,0.056741', 45.756257, 23.63397, 657.948231, 0.675587, 1000),
        ('signup', 703, 1, 0, '0.763861', None, 56.341508, 26.046912, 848.674815, 2.976699, 1000),
        ('view', 702, 0, 3, None, '0.66378,0.299571,0.257696', 46.834188, 29.536386, 1391.64722, 0.533037, 1000),
        ('click', 708, 3, 4, '0.109531,-0.267671,0.170818', '-0.023085,0.245984,-0.109565,-0.025901', 52.551455, 42.388335, 3484.620603, 1.199095, 10000),
        ('error', 708, 2, 5, '-0.013845,-0.017149', '-0.024097,0.013023,0.05195,-0.030495,-0.003508', 49.854718, 39.946576, 2642.052219, 3.73192, 10000),
        ('purchase', 708, 2, 4, '0.574643,0.507695', '-0.528999,-0.566417,-0.033523,0.07778', 52.04072, 29.319149, 1045.891572, 8.271749, 10000),
        ('signup', 708, 5, 5, '-0.038365,0.238811,-0.585148,-0.340395,0.176744', '0.127669,-0.188866,0.538617,0.349978,-0.147116', 52.426751, 42.187449, 5251.900827, 0.820017, 10000),
        ('view', 708, 5, 2, '0.37356,-0.571627,0.17043,-0.045921,0.051134', '-0.209361,0.552924', 47.184421, 41.233093, 2508.084541, 7.164978, 10000),
        ('click', 708, 5, 1, '-0.070442,0.027806,-0.015391,-0.016168,-0.038642', '0.096061', 47.626441, 56.991233, 5507.30864, 11.640235, 100000),
        ('error', 708, 5, 1, '-0.850159,-0.075775,-0.022578,0.001132,-0.013751', '0.811926', 50.627161, 44.036692, 3418.388282, 9.658304, 100000),
        ('purchase', 708, 2, 4, '-0.013142,0.136544', '0.024707,-0.138253,0.028503,0.051279', 45.786201, 59.724425, 6951.498853, 0.875451, 100000),
        ('signup', 708, 1, 1, '0.12732', '-0.136472', 51.777839, 35.250431, 1590.872495, 4.131806, 100000),
        ('view', 708, 5, 0, '-0.082801,0.060863,0.019186,-0.033148,-0.010608', None, 50.525325, 42.495525, 3747.815475, 2.784279, 100000),
    ),
    'ml_arma_cv': (
        ('click', '1', 658, 12, 1, 5, 16.046344, 365.978905, 3.403307, False, 1000),
        ('click', '2', 670, 12, 0, 4, 24.887032, 830.187099, 16.41814, False, 1000),
        ('click', '3', 682, 12, 0, 4, 33.442178, 1837.393279, 0.639657, False, 1000),
        ('click', '4', 694, 12, 0, 3, 17.283734, 367.96875, 0.717542, False, 1000),
        ('click', 'mean', 2704, 48, None, None, 22.914822, 850.382008, 5.294662, False, 1000),
        ('error', '1', 665, 12, 0, 5, 21.036946, 734.538117, 5.261215, False, 1000),
        ('error', '2', 677, 12, 0, 1, 10.724256, 133.406583, 0.849783, False, 1000),
        ('error', '3', 689, 12, 0, 5, 13.747033, 400.610642, 1.63456, False, 1000),
        ('error', '4', 701, 12, 1, 1, 21.02918, 621.526556, 1.705022, False, 1000),
        ('error', 'mean', 2732, 48, None, None, 16.634354, 472.520475, 2.362645, False, 1000),
        ('purchase', '1', 672, 12, 1, 5, 23.504875, 623.156592, 1.560749, False, 1000),
        ('purchase', '2', 684, 12, 5, 5, 25.634072, 1370.179781, 3.036724, False, 1000),
        ('purchase', '3', 696, 12, 0, 1, 54.877075, 4104.440535, 0.688012, False, 1000),
        ('purchase', '4', 708, 12, 2, 2, 23.63397, 657.948231, 0.675587, False, 1000),
        ('purchase', 'mean', 2760, 48, None, None, 31.912498, 1688.931285, 1.490268, False, 1000),
        ('signup', '1', 667, 12, 0, 3, 38.488402, 1710.773742, 3.708241, False, 1000),
        ('signup', '2', 679, 12, 2, 4, 15.522551, 299.3211, 1.086987, False, 1000),
        ('signup', '3', 691, 12, 0, 2, 26.553458, 1125.937056, 6.53469, False, 1000),
        ('signup', '4', 703, 12, 1, 0, 26.046912, 848.674815, 2.976699, False, 1000),
        ('signup', 'mean', 2740, 48, None, None, 26.652831, 996.176678, 3.576654, False, 1000),
        ('view', '1', 666, 12, 5, 2, 26.855625, 1634.264566, 1.114291, False, 1000),
        ('view', '2', 678, 12, 3, 4, 10.704126, 230.665702, 0.408948, False, 1000),
        ('view', '3', 690, 12, 4, 0, 14.046844, 386.844105, 0.375423, False, 1000),
        ('view', '4', 702, 12, 0, 3, 29.536386, 1391.64722, 0.533037, False, 1000),
        ('view', 'mean', 2736, 48, None, None, 20.285745, 910.855398, 0.607925, False, 1000),
        ('click', '1', 672, 12, 4, 1, 33.340389, 1893.628685, 0.62891, False, 10000),
        ('click', '2', 684, 12, 5, 0, 59.775275, 4909.81713, 12.888187, False, 10000),
        ('click', '3', 696, 12, 3, 2, 26.087121, 824.283686, 1.308547, False, 10000),
        ('click', '4', 708, 12, 3, 4, 42.388335, 3484.620603, 1.199095, False, 10000),
        ('click', 'mean', 2760, 48, None, None, 40.39778, 2778.087526, 4.006185, False, 10000),
        ('error', '1', 672, 12, 4, 5, 22.780012, 978.381316, 0.618638, False, 10000),
        ('error', '2', 684, 12, 2, 5, 20.209855, 659.553829, 2.340499, False, 10000),
        ('error', '3', 696, 12, 0, 2, 33.60635, 2348.342129, 2.242193, False, 10000),
        ('error', '4', 708, 12, 2, 5, 39.946576, 2642.052219, 3.73192, False, 10000),
        ('error', 'mean', 2760, 48, None, None, 29.135698, 1657.082373, 2.233313, False, 10000),
        ('purchase', '1', 672, 12, 4, 5, 32.287858, 1380.379781, 11.64159, False, 10000),
        ('purchase', '2', 684, 12, 1, 1, 42.5163, 2884.403633, 2.8511, False, 10000),
        ('purchase', '3', 696, 12, 5, 2, 24.812665, 1204.474818, 12.884509, False, 10000),
        ('purchase', '4', 708, 12, 2, 4, 29.319149, 1045.891572, 8.271749, False, 10000),
        ('purchase', 'mean', 2760, 48, None, None, 32.233993, 1628.787451, 8.912237, False, 10000),
        ('signup', '1', 672, 12, 3, 5, 45.80482, 2729.782033, 2.359496, False, 10000),
        ('signup', '2', 684, 12, 4, 4, 47.126846, 3463.059772, 0.725667, False, 10000),
        ('signup', '3', 696, 12, 1, 2, 28.425424, 1133.697872, 4.688363, False, 10000),
        ('signup', '4', 708, 12, 5, 5, 42.187449, 5251.900827, 0.820017, False, 10000),
        ('signup', 'mean', 2760, 48, None, None, 40.886135, 3144.610126, 2.148386, False, 10000),
        ('view', '1', 672, 12, 5, 3, 47.219538, 3136.841119, 2.141448, False, 10000),
        ('view', '2', 684, 12, 5, 2, 35.164093, 1390.776371, 57.52567, False, 10000),
        ('view', '3', 696, 12, 2, 5, 22.905453, 839.937977, 1.698382, False, 10000),
        ('view', '4', 708, 12, 5, 2, 41.233093, 2508.084541, 7.164978, False, 10000),
        ('view', 'mean', 2760, 48, None, None, 36.630544, 1968.910002, 17.13262, False, 10000),
        ('click', '1', 672, 12, 4, 3, 50.017063, 3878.660095, 1.183746, False, 100000),
        ('click', '2', 684, 12, 2, 5, 27.246122, 1162.747624, 4.162529, False, 100000),
        ('click', '3', 696, 12, 5, 3, 35.760068, 1737.230503, 8.538361, False, 100000),
        ('click', '4', 708, 12, 5, 1, 56.991233, 5507.30864, 11.640235, False, 100000),
        ('click', 'mean', 2760, 48, None, None, 42.503621, 3071.486716, 6.381218, False, 100000),
        ('error', '1', 672, 12, 1, 0, 32.383649, 1319.758878, 0.985537, False, 100000),
        ('error', '2', 684, 12, 1, 0, 37.076937, 2113.345114, 0.958172, False, 100000),
        ('error', '3', 696, 12, 3, 3, 21.071076, 655.838952, 10.144012, False, 100000),
        ('error', '4', 708, 12, 5, 1, 44.036692, 3418.388282, 9.658304, False, 100000),
        ('error', 'mean', 2760, 48, None, None, 33.642088, 1876.832807, 5.436506, False, 100000),
        ('purchase', '1', 672, 12, 3, 5, 48.34055, 4142.172178, 0.994871, False, 100000),
        ('purchase', '2', 684, 12, 3, 2, 21.792214, 696.319986, 1.166065, False, 100000),
        ('purchase', '3', 696, 12, 2, 0, 35.132171, 1749.375033, 1.79016, False, 100000),
        ('purchase', '4', 708, 12, 2, 4, 59.724425, 6951.498853, 0.875451, False, 100000),
        ('purchase', 'mean', 2760, 48, None, None, 41.24734, 3384.841513, 1.206637, False, 100000),
        ('signup', '1', 672, 12, 0, 1, 35.047012, 1964.734351, 2.096928, False, 100000),
        ('signup', '2', 684, 12, 4, 0, 80.636715, 16872.534005, 34.722871, False, 100000),
        ('signup', '3', 696, 12, 2, 0, 30.245403, 1362.803273, 2.91606, False, 100000),
        ('signup', '4', 708, 12, 1, 1, 35.250431, 1590.872495, 4.131806, False, 100000),
        ('signup', 'mean', 2760, 48, None, None, 45.29489, 5447.736031, 10.966916, False, 100000),
        ('view', '1', 672, 12, 0, 1, 61.273078, 8457.932224, 1.150818, False, 100000),
        ('view', '2', 684, 12, 1, 5, 32.634574, 1607.756611, 0.943871, False, 100000),
        ('view', '3', 696, 12, 4, 2, 21.939155, 657.56432, 2.01647, False, 100000),
        ('view', '4', 708, 12, 5, 0, 42.495525, 3747.815475, 2.784279, False, 100000),
        ('view', 'mean', 2760, 48, None, None, 39.585583, 3617.767157, 1.72386, False, 100000),
    ),
    'ml_auto_arima': (
        ('click', 694, 0.080492, 0, 1, 1, 10, 4644.427006, '0.823091', '-0.240198', 19.7456, 540.450667, 0.858008, 1000),
        ('error', 701, 0.250772, 0, 1, 1, 10, 4477.366728, '0.830461', '-0.295186', 20.901545, 615.791725, 1.695645, 1000),
        ('purchase', 708, 0.506606, 1, 4, 4, 16, 4724.033531, '-0.383098,-0.453876,-0.153363,0.405939', '0.133902,0.17535,-0.216304,-0.715154', 27.222473, 1095.154334, 1.185899, 1000),
        ('signup', 703, 0.229745, 0, 2, 0, 9, 4864.140283, '0.808871,-0.058648', None, 26.440371, 888.928349, 3.110185, 1000),
        ('view', 702, 0.198267, 0, 1, 2, 12, 4707.722395, '0.855778', '-0.193713,-0.269058', 29.93419, 1406.581742, 0.54573, 1000),
        ('click', 708, 0.052688, 0, 0, 1, 7, 5451.188865, None, '0.082956', 42.704696, 3516.003364, 1.206688, 10000),
        ('error', 708, 0.030462, 0, 0, 0, 5, 5420.913464, None, None, 40.141525, 2661.489514, 3.733057, 10000),
        ('purchase', 708, 0.207035, 0, 0, 0, 5, 5543.732934, None, None, 30.146073, 1116.967423, 9.367171, 10000),
        ('signup', 708, 0.206193, 0, 1, 0, 7, 5488.696381, '0.098017', None, 44.554972, 5559.646697, 0.905673, 10000),
        ('view', 708, 0.186563, 0, 1, 0, 7, 5238.338026, '0.169332', None, 41.693718, 2547.807718, 7.550125, 10000),
        ('click', 708, 0.134693, 0, 0, 0, 5, 5350.908342, None, None, 57.49524, 5590.306388, 11.793474, 100000),
        ('error', 708, 0.066857, 0, 0, 0, 5, 5407.369291, None, None, 44.740473, 3481.002913, 9.719111, 100000),
        ('purchase', 708, 0.041866, 0, 0, 0, 5, 5292.729425, None, None, 60.559167, 7150.090995, 0.878497, 100000),
        ('signup', 708, 0.539153, 1, 4, 5, 17, 5650.680568, '-1.521641,-1.552796,-1.116646,-0.602157', '0.585153,0.236611,-0.159788,-0.348624,-0.546898', 34.927451, 1708.757629, 3.997991, 100000),
        ('view', 708, 0.230615, 0, 2, 0, 9, 5425.35599, '-0.083155,0.05578', None, 42.688996, 3802.308322, 2.800658, 100000),
    ),
}


def _sql_frozen_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    return str(v)


def _sql_frozen_fit(name: str) -> str:
    cols = _FROZEN_FIT_COLS[name] + ["n_events"]
    vals = ",\n    ".join(
        "(" + ", ".join(_sql_frozen_lit(v) for v in row) + ")"
        for row in ML_FIT_EXPECTED[name])
    sel = ", ".join(f"x.{c}" for c in cols)
    return f"""
WITH tot AS (SELECT COUNT(*) AS n_events FROM events),
expected({", ".join(cols)}) AS (
  VALUES
    {vals}
)
SELECT {sel}
FROM expected x JOIN tot t ON x.n_events = t.n_events
"""


def q_ml_auto_arima_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    tot = (table(spark, sf_dir, "events")
           .agg(F.count("*").alias("n_events")))
    return (auto_arima_train(_shared_grid(spark, sf_dir))
            .crossJoin(F.broadcast(tot))
            .select("event_type", "n_events", "n_train", "kpss_d0",
                    "chosen_d", "chosen_p", "chosen_q", "n_fits"))


def _sql_auto_arima_orders() -> str:
    vals = ",\n    ".join(
        f"('{et}', {ne}, {nt}, CAST({k} AS DOUBLE), {d}, {p}, {q}, {nf})"
        for et, ne, nt, k, d, p, q, nf in AUTO_ARIMA_EXPECTED)
    n_tr = (f"CASE WHEN o.n_obs > {MIN_TRAIN + HOLDOUT} "
            f"THEN o.n_obs - {HOLDOUT} ELSE o.n_obs END")
    return f"""
WITH {_SQL_GRID},
obs AS (
  SELECT event_type, COUNT(value_ffill) AS n_obs FROM grid GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n_events FROM events
), expected(event_type, n_events, n_train, kpss_d0, chosen_d,
            chosen_p, chosen_q, n_fits) AS (
  VALUES
    {vals}
)
SELECT x.event_type, x.n_events, x.n_train, x.kpss_d0,
       x.chosen_d, x.chosen_p, x.chosen_q, x.n_fits
FROM obs o CROSS JOIN tot t
JOIN expected x
  ON x.event_type = o.event_type AND x.n_events = t.n_events
 AND x.n_train = {n_tr}
"""


# --- M1 upstream: text → 3-class sentiment probabilities + scoring math
#     (dataflow/stream_join.py:231-346 — the HF model in DoFn.setup()
#     becomes a fitted MLlib PipelineModel, a broadcast set of JVM
#     transformers applied per partition; rows-only: iterative LR fit) ---
# Live-vs-teacher agreement floor (r15 graduation): the distilled
# TF-IDF logistic student agrees with its lexicon teacher on
# 91.8-94.6% of docs across the three SFs (measured; the pytest pin
# is > 80%). The 85% floor leaves ~7pp of fit-nondeterminism margin
# (L-BFGS over partitioning-dependent float treeAggregate sums)
# while still firing on any real distillation break.
SENT_AGREE_MIN_PCT = 85


def score_sentiment_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc live-student scores — the library surface (pinned by
    tests/test_ml_pipelines.py; the M1 column math downstream of the
    probability vector is identical to the oracle-checked
    q_ml_sentiment, stream_join.py:327-344). Returns one row per doc
    with the teacher's exact lexicon label riding along."""
    from pyspark.ml.functions import vector_to_array
    from ..ml_pipelines import fit_sentiment_pipeline
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # teacher labels ride the SAME scan as the student's features (the
    # lexicon is pure column math — q_ml_lexicon_sentiment's label rule
    # inlined), instead of a doc_id self-join of two documents scans
    _, _, polarity = lexicon_polarity()
    label = (F.when(polarity > 0.05, 2.0)
              .when(polarity < -0.05, 0.0)
              .otherwise(1.0).alias("label"))
    teacher = (F.when(polarity > 0.05, "POSITIVE")
                .when(polarity < -0.05, "NEGATIVE")
                .otherwise("NEUTRAL").alias("teacher_label"))
    labeled = docs.select("doc_id", "text", label, teacher)
    model = fit_sentiment_pipeline(labeled)
    probs = (model.transform(labeled)
             .select("doc_id", "teacher_label",
                     vector_to_array("probability").alias("p")))
    pneg, pneu, ppos = (F.col("p")[i] for i in range(3))
    # downstream column math identical to the oracle-checked M1 query
    # (stream_join.py:327-344): softmax output renormalizes to itself,
    # but the renormalize step is kept for semantic parity
    s = pneg + pneu + ppos
    pneg, pneu, ppos = pneg / s, pneu / s, ppos / s
    score = ppos - pneg
    label = (F.when(ppos >= F.greatest(pneu, pneg), "POSITIVE")
              .when(pneu >= pneg, "NEUTRAL")
              .otherwise("NEGATIVE"))
    return probs.select(
        "doc_id", "teacher_label",
        F.round(pneg, 6).alias("p_neg"),
        F.round(pneu, 6).alias("p_neu"),
        F.round(ppos, 6).alias("p_pos"),
        F.round(score, 6).alias("sentiment_score"),
        F.round(ppos + pneg, 6).alias("sentiment_magnitude"),
        label.alias("sentiment_label"),
        F.when(score > 0, "buy").otherwise("sell").alias("action_signal"),
    )


def q_ml_sentiment_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graduated r15 (VERDICT r14 #1, the sim_ivf_recall_contract
    recipe): the live LogisticRegression's per-doc probabilities are
    engine-specific, so the registered surface hashes the TEACHER
    side's exact evidence — total docs and per-class lexicon-label
    counts, pure column math DuckDB recomputes — and rides the live
    student as an asserted distillation-agreement flag
    (student label == teacher label on ≥ SENT_AGREE_MIN_PCT of docs).
    The per-doc scored frame stays the library surface
    (score_sentiment_model), pinned by tests/test_ml_pipelines.py."""
    scored = score_sentiment_model(spark, sf_dir)
    g = scored.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("teacher_label") == "POSITIVE").cast("long"))
         .alias("n_teacher_positive"),
        F.sum((F.col("teacher_label") == "NEUTRAL").cast("long"))
         .alias("n_teacher_neutral"),
        F.sum((F.col("teacher_label") == "NEGATIVE").cast("long"))
         .alias("n_teacher_negative"),
        F.sum((F.col("sentiment_label") == F.col("teacher_label"))
              .cast("long")).alias("_agree"))
    ok = (F.col("_agree") * 100 >= F.col("n_docs") * SENT_AGREE_MIN_PCT)
    return g.select("n_docs", "n_teacher_positive", "n_teacher_neutral",
                    "n_teacher_negative",
                    ok.cast("int").alias("student_agree_ge_min"))
    # 1 row


# The lexicon-labeled corpus (a regex-heavy scan joined back to the
# documents) feeds BOTH M6 entries below; persist it once per
# (session, sf_dir) — the retrieval._WTS_CACHE pattern, bounded by the
# SFs touched in one process.
_LABELED_CACHE: dict[tuple, DataFrame] = {}


def _labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _LABELED_CACHE:
        from pyspark import StorageLevel
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        labels = (q_ml_lexicon_sentiment(spark, sf_dir)
                  .select("doc_id", F.col("polarity").alias("label")))
        _LABELED_CACHE[key] = (docs.join(labels, "doc_id")
                               .persist(StorageLevel.MEMORY_AND_DISK))
    return _LABELED_CACHE[key]


# --- M6: TF-IDF + Ridge top terms — GRADUATED r16 (VERDICT r15 #2,
#     frozen-subset sign/rank evidence). Matches reference Milestone4
#     cell 15 (eda/Data_Minions_EDA_Milestone4.ipynb): the ±25-term
#     coefficient view of the TF-IDF+Ridge fit.
#
#     The hashed side is the frozen 16-term vocabulary's signed
#     coefficient RANKING over the live label (y6 = round(polarity·1e6),
#     the ml_tfidf_ridge_cv discipline): exact BIGINT association sums,
#     one Spark-ROUND(8)ed division per term, rank by |coef| — all 16
#     rows, bit-identical on both engines. The live full-vocab MLlib
#     fit rides as two flags: (1) every-frozen-term containment in the
#     live ±25 list (floor TFIDF_TT_MIN_IN_TOPK, measured 16/16 at all
#     three SFs), and (2) the anchor contract — the live fit's top-2
#     positive coefficients are exactly the lexicon's POS_WORDS and
#     its bottom-2 are NEG_WORDS, with ≥2× |coef| margin over every
#     other term AND frozen-sign agreement (measured margin ≥3.5× at
#     all SFs; live anchor coefs ±0.19..0.23 vs next |coef| ≤0.054).
#     A ≥N sign-match floor over ALL 16 terms would be dishonest: the
#     non-anchor coefficients are collinear noise at |coef| < 0.06 and
#     their multivariate signs measured 5-14/16 against the univariate
#     frozen signs across SFs — any floor would be vacuous or flaky.
#     The anchors are where sign agreement is statistically meaningful,
#     and there it is asserted strictly. Planted arm:
#     tests/test_r16_contract_planted.py. ---
TFIDF_TT_K = 25                # the reference's ±25-term view
TFIDF_TT_MIN_IN_TOPK = 14      # frozen-term containment floor (16 measured)
TFIDF_TT_ANCHOR_MARGIN = 2.0   # anchor-vs-rest |coef| ratio floor (3.5 measured)


# r16 (guide §1.2 — remove redundant passes): ml_tfidf_top_terms'
# frozen-sums scan and ml_tfidf_terms_frozen ran the IDENTICAL
# 16-term regexp_count projection over the corpus twice — one scan
# per entry — differing only in the label column (y6 =
# round(polarity·1e6) vs y = n_pos − n_neg; the xx sums are shared
# verbatim). One scan now computes all three sum families; the
# collected 1-row result is a bounded driver artifact keyed by the
# established (appId, sf_dir) session-cache convention (auto-
# discovered by queries.session_caches()). Exact BIGINT sums, so
# every derived value is unchanged on both engines.
_TFIDF_SUMS_CACHE: dict[tuple, dict] = {}


def _tfidf_frozen_sums(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TFIDF_SUMS_CACHE:
        d = (table(spark, sf_dir, "documents")
             .filter(F.col("text").isNotNull()).select("text"))
        n_pos, n_neg, pol = lexicon_polarity()
        cols = [(n_pos - n_neg).cast("long").alias("y"),
                F.round(pol * 1e6).cast("long").alias("y6")]
        for i, (t, _) in enumerate(TFIDF_FROZEN_VOCAB):
            cols.append(F.regexp_count(F.col("text"), F.lit(rf"\b{t}\b"))
                         .cast("long").alias(f"tf{i}"))
        aggs = []
        for i in range(len(TFIDF_FROZEN_VOCAB)):
            tf = F.col(f"tf{i}")
            aggs.append(F.sum(tf * F.col("y")).alias(f"xy{i}"))
            aggs.append(F.sum(tf * F.col("y6")).alias(f"xy6_{i}"))
            aggs.append(F.sum(tf * tf).alias(f"xx{i}"))
        srow = d.select(*cols).agg(*aggs).first()
        _TFIDF_SUMS_CACHE[key] = {k: int(srow[k] or 0)
                                  for k in srow.asDict()}
    return _TFIDF_SUMS_CACHE[key]


def q_ml_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml_pipelines import fit_tfidf_ridge, top_terms
    shared = _tfidf_frozen_sums(spark, sf_dir)
    sums = {}
    for i in range(len(TFIDF_FROZEN_VOCAB)):
        sums[f"xy{i}"] = shared[f"xy6_{i}"]
        sums[f"xx{i}"] = shared[f"xx{i}"]
    # Spark-side ROUND of the 16 divisions (cross-engine parity)
    coef_exprs = []
    for i, (t, idf3) in enumerate(TFIDF_FROZEN_VOCAB):
        num = idf3 * sums[f"xy{i}"] * 1000
        den = idf3 * idf3 * sums[f"xx{i}"] + TFIDF_TT_LAMBDA_E12
        coef_exprs.append(F.round(F.lit(num).cast("double")
                                  / F.lit(den).cast("double"), 8)
                           .alias(f"c{i}"))
    crow = spark.range(1).select(*coef_exprs).first()
    coef8 = {TFIDF_FROZEN_VOCAB[i][0]: float(crow[f"c{i}"])
             for i in range(len(TFIDF_FROZEN_VOCAB))}
    rank = {t: r + 1 for r, (t, _) in enumerate(
        sorted(coef8.items(), key=lambda kv: (-abs(kv[1]), kv[0])))}
    fsign = {}
    for i, (t, _) in enumerate(TFIDF_FROZEN_VOCAB):
        xy = sums[f"xy{i}"]
        fsign[t] = "pos" if xy > 0 else ("neg" if xy < 0 else "zero")

    # live full-vocab fit: containment + anchor flags
    model, vocab = fit_tfidf_ridge(_labeled_docs(spark, sf_dir))
    cmap = dict(zip(vocab,
                    (float(c) for c in
                     model.stages[-1].coefficients.toArray())))
    live_topk = {t for t, _, _ in top_terms(model, vocab,
                                            k=TFIDF_TT_K)}
    n_in = sum(1 for t, _ in TFIDF_FROZEN_VOCAB if t in live_topk)
    flag_topk = int(n_in >= TFIDF_TT_MIN_IN_TOPK)
    ranked_live = sorted(cmap.items(), key=lambda kv: kv[1])
    top2 = {t for t, _ in ranked_live[-2:]}
    bot2 = {t for t, _ in ranked_live[:2]}
    anchors = set(POS_WORDS) | set(NEG_WORDS)
    rest = [abs(c) for t, c in cmap.items() if t not in anchors]
    margin_ok = (not rest or
                 min(abs(cmap.get(a, 0.0)) for a in anchors)
                 >= TFIDF_TT_ANCHOR_MARGIN * max(rest))
    flag_anchor = int(top2 == set(POS_WORDS) and bot2 == set(NEG_WORDS)
                      and margin_ok
                      and all(fsign[w] == "pos" for w in POS_WORDS)
                      and all(fsign[w] == "neg" for w in NEG_WORDS))

    structs = []
    for i, (t, idf3) in enumerate(TFIDF_FROZEN_VOCAB):
        structs.append(F.struct(
            F.lit(t).alias("term"),
            F.lit(idf3).cast("long").alias("idf3"),
            F.lit(sums[f"xy{i}"]).cast("long").alias("s_xy"),
            F.lit(sums[f"xx{i}"]).cast("long").alias("s_xx"),
            F.lit(coef8[t]).alias("coef8"),
            F.lit(fsign[t]).alias("sign"),
            F.lit(rank[t]).cast("long").alias("rank"),
            F.lit(flag_topk).cast("int").alias("live_in_topk_ge_min"),
            F.lit(flag_anchor).cast("int").alias("live_anchors_extreme")))
    return (spark.range(1)
                 .select(F.explode(F.array(*structs)).alias("r"))
                 .select("r.*"))
    # 16 rows


# --- M6 frozen-artifact graduation (r12 verdict #1): the fitted
#     vocab+idf freeze to literals (the embed_pca_frozen /
#     sim_ivf_topk_frozen treatment) and the ridge solve drops to its
#     DIAGONAL closed form — β_j = (idf_j·Σtf_j·y)/(idf_j²·Σtf_j²+λ),
#     exact ridge under orthogonal features and the standard per-term
#     relevance score otherwise — so DuckDB can replay every value:
#     tf via regexp_count (cross-engine parity proven by the lexicon
#     pairs), y = n_pos − n_neg (integer label), all sums exact
#     BIGINT, ONE double division per term, round(8). Plan shape at
#     100 TB: a single documents scan, 2·|vocab| partially-aggregated
#     sums into one row, a bounded literal-array explode — no
#     shuffle beyond the 1-row agg, no fit, no collect. ---
TFIDF_FROZEN_VOCAB: tuple[tuple[str, int], ...] = (
    # (term, idf frozen at 1e-3 units) — artifact literals, like
    # PCA_FROZEN_COMPONENTS; distinct idf values exercise the
    # weighting in the ranking
    ("fast", 1811), ("big", 2473), ("slow", 1954), ("small", 2107),
    ("table", 1320), ("join", 1205), ("merge", 1688), ("window", 1522),
    ("hash", 2031), ("stream", 1777), ("query", 1444), ("filter", 1639),
    ("vector", 2866), ("column", 1903), ("batch", 1561), ("data", 1098),
)
TFIDF_FROZEN_LAMBDA_E6 = 1_000_000  # λ=1.0 at the 1e-3 idf scale
TFIDF_TT_LAMBDA_E12 = TFIDF_FROZEN_LAMBDA_E6 * 1_000_000  # λ at the
#   1e6-unit label scale (terms_frozen's λ rescaled for the y6 label
#   the graduated ml_tfidf_top_terms frozen ranking uses)


def q_ml_tfidf_terms_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: the xy/xx sums come from the shared one-scan aggregate
    # (_tfidf_frozen_sums — see the cache note above); the coef/sign
    # expressions below are unchanged and still evaluate Spark-side
    # over the same exact integers, so every output value is
    # bit-identical to the per-entry-scan form.
    shared = _tfidf_frozen_sums(spark, sf_dir)
    structs = [
        F.struct(F.lit(t).alias("term"),
                 F.lit(idf3).cast("long").alias("idf3"),
                 F.lit(shared[f"xy{i}"]).cast("long").alias("s_xy"),
                 F.lit(shared[f"xx{i}"]).cast("long").alias("s_xx"))
        for i, (t, idf3) in enumerate(TFIDF_FROZEN_VOCAB)]
    rows = (spark.range(1)
                .select(F.explode(F.array(*structs)).alias("r"))
                .select("r.*"))
    num = (F.col("idf3") * F.col("s_xy") * 1000).cast("double")
    den = (F.col("idf3") * F.col("idf3") * F.col("s_xx")
           + F.lit(TFIDF_FROZEN_LAMBDA_E6)).cast("double")
    coef = F.round(num / den, 8)
    sign = (F.when(F.col("s_xy") > 0, "pos")
             .when(F.col("s_xy") < 0, "neg").otherwise("zero"))
    return (rows.select("term", "idf3", "s_xy", "s_xx",
                        coef.alias("coef"), sign.alias("sign"))
                .orderBy(F.abs(F.col("coef")).desc(), "term")
                .limit(10))


# --- M6 temporal CV: expanding-window TimeSeriesSplit(5) analog
#     (eda/Data_Minions_EDA_Milestone4.ipynb cell 15) — per-fold MAE of
#     the TF-IDF+Ridge fit, trained strictly on earlier documents and
#     scored on the next time block, plus a mean row. doc_id is the
#     ingest-order surrogate (the documents fixture carries no event
#     time). Rows-only: iterative MLlib fits; the no-future-leakage
#     fold contract is pinned in tests/test_ml_pipelines.py. ---
# Live-CV contract margins (r15 graduation, measured at all 3 SFs):
# the live TF-IDF+Ridge fold MAE beats the train-mean constant
# predictor by 25-40% on every fold, and beats the 16-term frozen
# diagonal-ridge twin everywhere too (the full-vocab exact ridge is
# strictly the richer model). Both asserted per fold.
CV_FOLDS_REG = 5


def _exact_rank_values(df: DataFrame, col: str, ranks,
                       bucket: int = 1 << 16) -> dict[int, int]:
    """Exact k-th smallest integer values (1-based ranks) WITHOUT a
    global sort (the repo's scale guard forbids Window.orderBy): one
    bucket-count aggregate over value ranges, a bounded cumulative
    histogram walk on the driver, then a local sort of only the one
    ≤bucket-wide value range each target rank lands in.

    `ranks` is a list of 1-based ranks, or a callable n -> list of
    ranks — the callable form derives the targets from the total row
    count the histogram already paid for, so callers need no separate
    count() job."""
    c = F.col(col)
    counts = sorted(
        (r["_b"], r["n"]) for r in
        df.groupBy((c - (c % bucket)).alias("_b"))
          .agg(F.count("*").alias("n")).collect())
    if callable(ranks):
        ranks = ranks(sum(n for _, n in counts))
    out: dict[int, int] = {}
    pending = sorted(set(ranks))
    acc = 0
    for b, nb in counts:
        here = [r for r in pending if acc < r <= acc + nb]
        if here:
            vals = sorted(
                x[0] for x in
                df.filter((c >= b) & (c < b + bucket))
                  .select(col).collect())
            for r in here:
                out[r] = vals[r - acc - 1]
            pending = [r for r in pending if r not in here]
        acc += nb
    if pending:
        raise ValueError(f"ranks {pending} beyond row count {acc}")
    return out


def _cv_rank_cuts(docs: DataFrame, ts_col: str,
                  n_folds: int = CV_FOLDS_REG,
                  approx: bool = False,
                  rel_err: float = 1e-3) -> list:
    """Exact integer rank-block fold boundaries: cut_f = the doc id at
    rank n·f/(n_folds+1) (floor) in ts_col order — NTILE-style equal
    blocks, bit-identical on both engines (interpolated percentiles
    differ by 1 ulp Spark-vs-DuckDB and can flip a boundary row).
    Exact ranks come from the bucketed histogram walk above (no global
    sort, no separate count job — the targets derive from the
    histogram's own total).

    `approx=True` is the 100 TB deployment path the exact form stands
    in for: GK-sketch approxQuantile boundaries in ONE bounded-memory
    pass, no per-range value collect. Fold balance needs no exactness
    — the temporal-CV leakage contract only needs the <= / > boundary
    discipline, which any monotone cut list satisfies (pinned by
    tests/test_ml_pipelines.py::test_temporal_cv_approx_cuts). The
    REGISTERED oracle pair keeps approx=False so both engines agree
    bit-for-bit on fold membership."""
    fracs = [(i + 1) / (n_folds + 1) for i in range(n_folds + 1)]
    if approx:
        return docs.approxQuantile(ts_col, fracs, rel_err)

    ranks: list[int] = []

    def ranks_of(n: int) -> list[int]:
        ranks.extend(max(1, n * (i + 1) // (n_folds + 1))
                     for i in range(n_folds + 1))
        return ranks

    got = _exact_rank_values(docs.select(ts_col), ts_col, ranks_of)
    return [got[r] for r in ranks]


def q_ml_tfidf_ridge_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graduated r15 (VERDICT r14 #8, the frozen-fit recipe per fold):
    the per-fold MLlib ridge fit is partitioning-dependent, so the
    registered surface hashes the EXACT per-fold evidence — rank-block
    boundaries, train/test counts, the 16-term frozen diagonal-ridge
    twin's MAE (integer sums -> Spark-rounded coefficients -> fixed-
    association prediction folds, the ml_tfidf_terms_frozen
    discipline), and the train-mean constant predictor's MAE (exact
    integer cross-multiplication) — and rides the live fits as
    asserted per-fold flags: live MAE <= constant-baseline MAE and
    live MAE <= frozen-twin MAE. Labels are the lexicon polarity
    scaled to exact 1e-6 integers (y6 = round(polarity*1e6), exactly
    1e6x the live label). The live fold list itself stays the library
    surface (temporal_cv_tfidf_ridge), pinned by the no-future-leakage
    pytest contract."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    from ..ml_pipelines import temporal_cv_tfidf_ridge
    docs = _labeled_docs(spark, sf_dir)

    t = F.col("text")
    _, _, pol = lexicon_polarity()
    cols = [F.col("doc_id"), F.round(pol * 1e6).cast("long").alias("y6")]
    for j, (term, _) in enumerate(TFIDF_FROZEN_VOCAB):
        cols.append(F.regexp_count(t, F.lit(rf"\b{term}\b"))
                     .cast("long").alias(f"tf{j}"))
    # both contract passes scan this 18-column integer projection; the
    # 16 regexp_counts over text are its dominant cost, so persist it
    # once (pass 1 reads the cache, pass 2 re-reads it). Independent
    # work overlaps: the cache materializes in a worker thread WHILE
    # the fold cuts compute on the main thread, then the live 5-fold
    # CV (no lineage shared with the contract sides — it re-reads the
    # persisted labeled corpus) runs concurrently with passes 1+2, so
    # the entry's wall is max(live CV, contract sides), not their sum.
    base = docs.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    pool = ThreadPoolExecutor(max_workers=2)
    warm_fut = pool.submit(base.count)
    cuts = _cv_rank_cuts(docs, "doc_id")
    live_fut = pool.submit(temporal_cv_tfidf_ridge, docs, "doc_id",
                           cuts=cuts)
    warm_fut.result()

    # pass 1: fold train sums are PREFIX sums over the rank blocks, so
    # aggregate per block (6 groups, 34 aggregates — a fold-conditional
    # form needs 5x that and its whole-stage codegen dominated the
    # entry's wall) and prefix-sum the bounded 6-row result on the
    # driver. Exact integers either way.
    nv = len(TFIDF_FROZEN_VOCAB)
    blk = F.when(F.col("doc_id") <= cuts[0], 1)
    for f in range(1, CV_FOLDS_REG + 1):
        blk = blk.when(F.col("doc_id") <= cuts[f], f + 1)
    aggs = []
    for j in range(nv):
        aggs += [F.sum(F.col(f"tf{j}") * F.col("y6")).alias(f"xy{j}"),
                 F.sum(F.col(f"tf{j}") * F.col(f"tf{j}"))
                  .alias(f"xx{j}")]
    aggs += [F.count("*").alias("ntr"), F.sum("y6").alias("sy")]
    brows = {r["_blk"]: r
             for r in base.groupBy(blk.alias("_blk")).agg(*aggs)
                          .collect()}
    s: dict = {}
    acc = {k: 0 for k in ([f"xy{j}" for j in range(nv)]
                          + [f"xx{j}" for j in range(nv)]
                          + ["ntr", "sy"])}
    for f in range(1, CV_FOLDS_REG + 1):
        r = brows.get(f)
        for k in acc:
            acc[k] += int(r[k]) if r is not None and r[k] is not None \
                else 0
            s[f"{k}_{f}"] = acc[k]
    # Spark-side rounding for the coefficients (the proven
    # ml_tfidf_terms_frozen discipline — both engines round the same
    # exact-integer ratio the same way), computed in one 1-row job
    # over the prefix-sum literals
    coef_exprs = []
    for f in range(1, CV_FOLDS_REG + 1):
        for j, (_, idf3) in enumerate(TFIDF_FROZEN_VOCAB):
            num = (F.lit(idf3).cast("long")
                   * F.lit(s[f"xy{j}_{f}"]).cast("long")
                   * 1000).cast("double")
            den = (F.lit(idf3 * idf3).cast("long")
                   * F.lit(s[f"xx{j}_{f}"]).cast("long")
                   + F.lit(TFIDF_FROZEN_LAMBDA_E6)).cast("double")
            coef_exprs.append(F.round(num / den, 8).alias(f"c{j}_{f}"))
    s.update(spark.range(1).select(*coef_exprs).first().asDict())

    # pass 2: the test blocks are DISJOINT (block f+1 is exactly fold
    # f's test rows), so per-block partials need no fold conditionals
    # at all (VERDICT r15 #4 — the same trick that fixed pass 1): each
    # row evaluates ONLY its own fold's 16-term prediction through one
    # CASE chain on the block id (1/5th the per-row arithmetic of the
    # old 15-conditional global aggregate), and a 6-row groupBy
    # replaces the conditional sums. The partials are exact integers,
    # so collecting the bounded block rows and finishing the MAE
    # rounding in a 1-row Spark job preserves the hash discipline
    # bit-for-bit.
    errf_case, errc_case = None, None
    for f in range(1, CV_FOLDS_REG + 1):
        pred = F.lit(0.0)
        for j, (_, idf3) in enumerate(TFIDF_FROZEN_VOCAB):
            pred = pred + F.lit(s[f"c{j}_{f}"]) * (F.col(f"tf{j}")
                                                   * F.lit(idf3))
        pred = pred * F.lit(0.001)
        errf = F.round(F.abs(F.col("y6") - pred)).cast("long")
        errc = F.abs(F.col("y6") * F.lit(s[f"ntr_{f}"])
                     - F.lit(s[f"sy_{f}"]))
        is_f = F.col("_blk") == F.lit(f + 1)
        errf_case = F.when(is_f, errf) if errf_case is None \
            else errf_case.when(is_f, errf)
        errc_case = F.when(is_f, errc) if errc_case is None \
            else errc_case.when(is_f, errc)
    blocks = {r["_blk"]: r for r in
              base.select(blk.alias("_blk"), "doc_id", "y6",
                          *[f"tf{j}" for j in range(nv)])
                  .groupBy("_blk")
                  .agg(F.count("*").alias("nte"),
                       F.sum(errf_case.otherwise(F.lit(0))).alias("sef"),
                       F.sum(errc_case.otherwise(F.lit(0))).alias("sec"))
                  .collect()}
    base.unpersist()
    lives = {f: mae for f, _, _, _, mae in live_fut.result()}
    pool.shutdown()

    structs = []
    for f in range(1, CV_FOLDS_REG + 1):
        b = blocks[f + 1]
        nte = F.lit(int(b["nte"])).cast("long")
        mae_frozen = F.round(F.lit(int(b["sef"])) / (nte * F.lit(1e6)), 6)
        mae_const = F.round(
            F.lit(int(b["sec"]))
            / (nte * F.lit(s[f"ntr_{f}"]) * F.lit(1e6)),
            6)
        live = F.lit(float(lives[f]))
        structs.append(F.struct(
            F.lit(f).cast("long").alias("fold"),
            F.lit(s[f"ntr_{f}"]).cast("long").alias("n_train"),
            nte.alias("n_test"),
            F.lit(int(cuts[f - 1])).cast("long").alias("train_end_id"),
            mae_frozen.alias("mae_frozen"),
            mae_const.alias("mae_const"),
            (live <= mae_const).cast("int").alias("live_mae_le_const"),
            (live <= mae_frozen).cast("int").alias("live_mae_le_frozen")))
    return (spark.range(1)
                 .select(F.explode(F.array(*structs)).alias("r"))
                 .select("r.*"))
    # CV_FOLDS_REG rows


# --- Topic discovery (LDA) over documents: per-doc dominant topic +
#     weight. Rows-only: variational inference is iterative; contract
#     (planted disjoint-vocab topics separate) pinned in
#     tests/test_ml_pipelines.py. ---
def q_ml_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml_pipelines import fit_topics
    from ._util import rebalance_scan
    docs = rebalance_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text")
        .filter(F.col("text").isNotNull()))
    # Fixture-vs-scale config split: the fixtures are ≤5k docs, far
    # below the scale where the default 5% minibatch has enough
    # evidence per natural-gradient step — so full-batch VI
    # (subsampling=1.0) with a short iteration budget (the fixture's
    # 4 domain topics separate within 3 full passes; the harder
    # planted-disjoint contract in tests/test_ml_pipelines.py keeps
    # its own deeper budget). At corpus scale drop subsampling back
    # to the default and restore LDA_MAX_ITER — each pass is then a
    # 5% draw, and more cheap passes beat few expensive ones. The
    # rebalance_scan matters here too: the single-row-group fixture
    # file otherwise serializes every VI pass onto one core.
    # want_terms=False: this entry consumes only doc_topics, so the
    # describeTopics collect is skipped.
    doc_topics, _, _ = fit_topics(docs, subsampling=1.0, max_iter=3,
                                  want_terms=False)
    return doc_topics  # O(input): unsorted


# --- M7: Ridge + permutation importance on numeric features —
#     GRADUATED r16 (VERDICT r15 #1, the frozen-twin + deterministic-
#     permutation recipe). Matches reference Milestone4 cells 14,21
#     (eda/Data_Minions_EDA_Milestone4.ipynb): ridge on (volume,
#     lagged volume) -> price with permutation importance.
#
#     The hashed side is an EXACT closed-form twin of the live fit:
#     the 2-feature centered ridge solves by Cramer's rule over
#     integer cross-moments (n·Sxy − Sx·Sy etc. — arbitrary-precision
#     on the driver, HUGEINT in DuckDB; the one division is
#     Spark-ROUND(8)ed in a 1-row job, the ml_tfidf_terms_frozen
#     discipline), the permutation is the engine-portable md5
#     hash-bucket reindex (the sample_and_split primitive: rank-by-id
#     meets rank-by-rehash inside 64 hash buckets — every window
#     partitionBy'd, nothing funnels through one task), and the
#     per-feature permutation MSE sums are exact BIGINTs in 1e-3-unit
#     label space. The live MLlib fit rides as agreement flags: its
#     base MSE and each md5-permuted variant's MSE must land within
#     RIDGE_PERM_TOL of the frozen twin's (measured deviation at the
#     three SFs: ≤ 1.3e-3; bound 5e-3). A rank-agreement flag would
#     be dishonest here — the fixture's volume→price signal is
#     near-zero, so the importance ORDER is permutation-realization
#     noise (measured: it flips between equally-valid deterministic
#     permutations); the MSE-surface agreement is the strong, stable
#     contract. Planted arm: tests/test_r16_contract_planted.py
#     (signal feature fires, flags flip when the tolerance is made
#     unsatisfiable). ---
RIDGE_PERM_LAM = 1_000      # ridge term in the integer normal equations
#   — small enough that the frozen solve is ≈OLS at every fixture scale
#   (a11 ≥ ~1e6 everywhere), matching the live fit's own near-OLS
#   shrinkage (regParam 0.5 moves its coefficients ~1%), so the MSE
#   agreement flags measure solver parity, not penalty mismatch
RIDGE_PERM_NB = 64           # portable-permutation hash buckets
RIDGE_PERM_TOL = 5e-3        # live-vs-frozen MSE agreement bound


def _ridge_perm_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rid, x1=n_events, x2=prev_n_events, y3=round(avg·1e3), y) over
    the hourly bucket-metrics grid, rows with a defined lag + label."""
    from pyspark.sql import Window
    from .timeseries import _bucket_metrics
    m = _bucket_metrics(table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    feats = (m.withColumn("prev_n_events", F.lag("n_events").over(w))
              .withColumn("rid", F.concat(
                  "event_type", F.lit(":"),
                  F.col("bucket").cast("long").cast("string"))))
    return (feats.filter(F.col("prev_n_events").isNotNull()
                         & F.col("avg_value").isNotNull())
            .select("rid",
                    F.col("n_events").cast("long").alias("x1"),
                    F.col("prev_n_events").cast("long").alias("x2"),
                    F.round(F.col("avg_value") * 1e3).cast("long")
                     .alias("y3"),
                    F.col("avg_value").alias("y")))


def q_ml_ridge_perm_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from ..ml_pipelines import ridge_permutation_importance
    from .sampling import _hash_bucket
    base = _ridge_perm_base(spark, sf_dir)

    # portable shared permutation: rank-by-rid meets rank-by-rehash
    # inside md5 hash buckets (valid whole-column permutation for
    # importance purposes; every window partitionBy'd)
    hb = _hash_bucket(F.col("rid"), RIDGE_PERM_NB).alias("_b")
    hord = _hash_bucket(F.concat(F.lit("p6:"), F.col("rid")),
                        1_000_000_000)
    w_id = Window.partitionBy("_b").orderBy("rid")
    w_h = Window.partitionBy("_b").orderBy(hord, F.col("rid"))
    by_id = (base.select("*", hb)
                 .withColumn("_r", F.row_number().over(w_id)))
    by_h = (base.select("rid", "x1", "x2", hb)
                .withColumn("_r", F.row_number().over(w_h))
                .select("_b", "_r", F.col("x1").alias("p1"),
                        F.col("x2").alias("p2")))
    j = (by_id.join(by_h, ["_b", "_r"])
              .persist(StorageLevel.MEMORY_AND_DISK))

    # exact integer cross-moments -> closed-form centered ridge
    s = j.agg(F.count("*").alias("n"),
              F.sum("x1").alias("sx1"), F.sum("x2").alias("sx2"),
              F.sum("y3").alias("sy"),
              F.sum(F.col("x1") * F.col("y3")).alias("xy1"),
              F.sum(F.col("x1") * F.col("x1")).alias("xx1"),
              F.sum(F.col("x2") * F.col("y3")).alias("xy2"),
              F.sum(F.col("x2") * F.col("x2")).alias("xx2"),
              F.sum(F.col("x1") * F.col("x2")).alias("x12")).first()
    n = int(s["n"])
    a11 = n * s["xx1"] - s["sx1"] ** 2 + RIDGE_PERM_LAM
    a22 = n * s["xx2"] - s["sx2"] ** 2 + RIDGE_PERM_LAM
    a12 = n * s["x12"] - s["sx1"] * s["sx2"]
    c1 = n * s["xy1"] - s["sx1"] * s["sy"]
    c2 = n * s["xy2"] - s["sx2"] * s["sy"]
    det = a11 * a22 - a12 * a12
    # Spark-side ROUND of the two divisions (cross-engine parity: the
    # big-int numerators convert to double identically on both sides)
    bro = spark.range(1).select(
        F.round(F.lit(float(c1 * a22 - c2 * a12))
                / F.lit(float(det)), 8).alias("b1"),
        F.round(F.lit(float(a11 * c2 - a12 * c1))
                / F.lit(float(det)), 8).alias("b2")).first()
    b1, b2 = float(bro["b1"]), float(bro["b2"])

    def npred(cx1, cx2):
        return ((F.lit(s["sy"]).cast("double")
                 + F.lit(b1) * (F.lit(n) * F.col(cx1) - F.lit(s["sx1"]))
                 + F.lit(b2) * (F.lit(n) * F.col(cx2) - F.lit(s["sx2"])))
                / F.lit(n).cast("double"))

    def esq(cx1, cx2):
        e = F.round(F.abs(F.col("y3") - npred(cx1, cx2))).cast("long")
        return F.sum(e * e)

    er = j.agg(esq("x1", "x2").alias("s0"),
               esq("p1", "x2").alias("s1"),
               esq("x1", "p2").alias("s2")).first()
    s0, s1, s2 = int(er["s0"]), int(er["s1"]), int(er["s2"])

    # live MLlib fit on the same rows, evaluated on the SAME md5
    # permutation (one shared permutation, passed pre-joined)
    lf = j.select("rid",
                  F.col("x1").cast("double").alias("n_events"),
                  F.col("x2").cast("double").alias("prev_n_events"),
                  F.col("y").alias("label"),
                  F.col("p1").cast("double").alias("_perm_n_events"),
                  F.col("p2").cast("double").alias("_perm_prev_n_events"))
    live = ridge_permutation_importance(
        lf, ["n_events", "prev_n_events"], "label", "rid", permuted=lf)
    j.unpersist()
    lmse = {c: (bm, pm) for c, bm, pm, _ in live}

    def agree(live_v: float, frozen_sum: int) -> int:
        fv = frozen_sum / (n * 1e6)
        return int(fv > 0 and abs(live_v / fv - 1.0) <= RIDGE_PERM_TOL)

    den = F.lit(n).cast("double") * F.lit(1000000.0)

    def mse6(sum_sq: int):
        return F.round(F.lit(sum_sq).cast("double") / den, 6)

    structs = []
    for feat, sj, beta in (("n_events", s1, b1),
                           ("prev_n_events", s2, b2)):
        structs.append(F.struct(
            F.lit(feat).alias("feature"),
            F.lit(n).cast("long").alias("n_rows"),
            F.lit(beta).alias("beta8"),
            mse6(s0).alias("mse_base"),
            mse6(sj).alias("mse_perm"),
            F.round(F.lit(sj - s0).cast("double") / den, 6)
             .alias("delta_mse"),
            F.lit(agree(lmse[feat][0], s0)).cast("int")
             .alias("live_base_agree"),
            F.lit(agree(lmse[feat][1], sj)).cast("int")
             .alias("live_perm_agree")))
    return (spark.range(1)
                 .select(F.explode(F.array(*structs)).alias("r"))
                 .select("r.*"))
    # 2 rows


# --- T7 model-inference graduation (VERDICT r13 #5): the
#     predict_batch_udf stand-in (streaming/enrich.py:84-121) has
#     deterministic seed-minted weights, so the whole forward pass can
#     go under the driver hash via the integer-freeze recipe
#     (embed_pca_frozen): weights quantize ONCE to 1e-4-unit integer
#     literals, vectors to 1e-6 units, and the 2-layer forward pass
#     relu(x@W1+b1)@W2+b2 becomes exact BIGINT arithmetic in BOTH
#     engines (ReLU = GREATEST(·,0) is exact on integers; scales
#     compose to 1e-10 hidden / 1e-14 logit units; headroom analysis:
#     |x6|<2^23, |w4|<2^14 → |h10|<2^42, |logit14|<2^58 — no
#     overflow). The REAL predict_batch_udf path (Arrow batches,
#     once-per-task make_predict_fn, the DoFn.setup() analog) runs on
#     the Spark side over the SAME dequantized weights, and its float
#     score must agree with the frozen-math softmax within the
#     quantization error bound — asserted as a flag DuckDB emits as
#     literal 1. First streaming-enrich surface under a driver hash;
#     batch≡streaming parity for the udf itself stays pinned in
#     tests/test_enrich_publish.py. ---
MLP_DIM = 64
MLP_X_SCALE = 1_000_000
MLP_W_SCALE = 10_000
MLP_H_SCALE = MLP_X_SCALE * MLP_W_SCALE       # hidden units: 1e-10
MLP_L_SCALE = MLP_H_SCALE * MLP_W_SCALE       # logits: 1e-14
MLP_UDF_TOL = 5e-4  # |udf − frozen softmax| bound: quantizing x to
#   1e-6 and w to 1e-4 perturbs logits by O(1e-4); softmax is
#   1-Lipschitz in logits, so 5e-4 is a safe published contract


def _mlp_frozen_ints():
    """The quantized weight artifact, minted once per process from the
    same seed the enrich stub uses — both engines embed these exact
    integers."""
    import numpy as np

    from ..streaming.enrich import stub_sentiment_weights
    w1, b1, w2, b2 = stub_sentiment_weights(MLP_DIM)
    return (np.round(w1 * MLP_W_SCALE).astype(np.int64),
            np.round(b1 * MLP_H_SCALE).astype(np.int64),
            np.round(w2 * MLP_W_SCALE).astype(np.int64),
            np.round(b2 * MLP_L_SCALE).astype(np.int64))


def q_ml_mlp_score_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..streaming.enrich import enrich_with_model_score
    w1, b1, w2, b2 = _mlp_frozen_ints()
    # slice to EXACTLY the model width: predict_batch_udf's tensor
    # validation hard-fails on ragged batches (an over-length vector
    # would kill the task, not read as a contract error), and
    # zip_with against the 64-literal arrays null-pads past the
    # weights — both engines score the first MLP_DIM coordinates
    e = (table(spark, sf_dir, "embeddings")
         .filter(F.size("embedding") >= MLP_DIM)
         .select("vec_id",
                 F.slice("embedding", 1, MLP_DIM).alias("embedding")))
    # real inference path over the dequantized artifact
    weights = (w1 / MLP_W_SCALE, b1 / MLP_H_SCALE,
               w2 / MLP_W_SCALE, b2 / MLP_L_SCALE)
    scored = enrich_with_model_score(e, MLP_DIM, weights=weights)
    x6 = F.transform(F.col("embedding"),
                     lambda x: F.round(x.cast("double") * MLP_X_SCALE)
                                .cast("bigint"))
    base = scored.select("vec_id", "model_score", x6.alias("x6"))
    hid = []
    for j in range(w1.shape[1]):
        lit = F.array(*[F.lit(int(v)).cast("bigint") for v in w1[:, j]])
        dot = F.aggregate(F.zip_with("x6", lit, lambda a, b: a * b),
                          F.lit(0).cast("bigint"),
                          lambda acc, x: acc + x)
        hid.append(F.greatest(dot + F.lit(int(b1[j])).cast("bigint"),
                              F.lit(0).cast("bigint")).alias(f"h{j}"))
    h = base.select("vec_id", "model_score", *hid)
    logits = []
    for k in range(w2.shape[1]):
        terms = [F.col(f"h{j}") * F.lit(int(w2[j, k])).cast("bigint")
                 for j in range(w2.shape[0])]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        logits.append((s + F.lit(int(b2[k])).cast("bigint"))
                      .alias(f"l{k}_14"))
    out = h.select("vec_id", "model_score", *logits)
    # frozen-math softmax score (driver-side constant-free row math):
    # exact logit integers -> float64 softmax, the same op order numpy
    # uses in make_predict_fn, compared against the udf's score
    lm = F.greatest(*[F.col(f"l{k}_14") for k in range(w2.shape[1])]) \
          .cast("double") / MLP_L_SCALE
    exps = [F.exp(F.col(f"l{k}_14").cast("double") / MLP_L_SCALE - lm)
            for k in range(w2.shape[1])]
    tot = exps[0]
    for x in exps[1:]:
        tot = tot + x
    frozen_score = (exps[-1] - exps[0]) / tot
    ok = (F.abs(F.col("model_score") - frozen_score) <= MLP_UDF_TOL)
    return out.select(
        "vec_id", "l0_14", "l1_14", "l2_14",
        ok.cast("int").alias("udf_matches_frozen"))  # O(input): unsorted


def _sql_mlp_frozen() -> str:
    """DuckDB twin generated from the SAME quantized integers."""
    w1, b1, w2, b2 = _mlp_frozen_ints()
    hcols = []
    for j in range(w1.shape[1]):
        arr = "[" + ", ".join(str(int(v)) for v in w1[:, j]) + "]::BIGINT[]"
        hcols.append(
            f"GREATEST(CAST(list_sum(list_transform(list_zip(x6,\n"
            f"    {arr}),\n"
            f"    p -> p[1] * p[2])) AS BIGINT) + {int(b1[j])}, 0)"
            f" AS h{j}")
    lcols = []
    for k in range(w2.shape[1]):
        terms = " + ".join(f"h{j} * {int(w2[j, k])}"
                           for j in range(w2.shape[0]))
        lcols.append(f"{terms} + {int(b2[k])} AS l{k}_14")
    return f"""
WITH x AS (
  SELECT vec_id,
         list_transform(embedding[1:{MLP_DIM}],
           v -> CAST(ROUND(CAST(v AS DOUBLE) * {MLP_X_SCALE}) AS BIGINT))
           AS x6
  FROM embeddings WHERE len(embedding) >= {MLP_DIM}
), h AS (
  SELECT vec_id,
         {",".join(hcols)}
  FROM x
)
SELECT vec_id,
       {", ".join(lcols)},
       1 AS udf_matches_frozen
FROM h
"""


def _sql_ridge_perm() -> str:
    """DuckDB twin of q_ml_ridge_perm_importance's frozen side: same
    hourly grid + lag, same md5 permutation, same Cramer closed form
    over HUGEINT cross-moments, same rounded error sums; the two live
    flags are the oracle's literal 1."""
    from .sampling import _sql_hash_bucket
    lam = RIDGE_PERM_LAM
    hb = _sql_hash_bucket("rid", RIDGE_PERM_NB)
    hord = _sql_hash_bucket("'p6:' || rid", 1_000_000_000)
    det = (f"((n*xx1 - sx1*sx1 + {lam}) * (n*xx2 - sx2*sx2 + {lam}) "
           f"- (n*x12 - sx1*sx2) * (n*x12 - sx1*sx2))")
    num1 = (f"((n*xy1 - sx1*sy) * (n*xx2 - sx2*sx2 + {lam}) "
            f"- (n*xy2 - sx2*sy) * (n*x12 - sx1*sx2))")
    num2 = (f"((n*xx1 - sx1*sx1 + {lam}) * (n*xy2 - sx2*sy) "
            f"- (n*x12 - sx1*sx2) * (n*xy1 - sx1*sy))")

    def npred(cx1, cx2):
        return (f"((CAST(sy AS DOUBLE) "
                f"+ b1 * CAST(n * {cx1} - sx1 AS DOUBLE)) "
                f"+ b2 * CAST(n * {cx2} - sx2 AS DOUBLE)) "
                f"/ CAST(n AS DOUBLE)")

    def e(cx1, cx2):
        return f"CAST(ROUND(ABS(y3 - {npred(cx1, cx2)})) AS BIGINT)"

    den = "(CAST(n AS DOUBLE) * 1000000.0)"

    def mse(expr):
        return f"ROUND(CAST({expr} AS DOUBLE) / {den}, 6)"

    return f"""
WITH binned AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
         COUNT(*) AS n_events,
         (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
          / COUNT(value)) AS avg_value
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT event_type,
         unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
  FROM (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
        FROM binned GROUP BY event_type)
), grid AS (
  SELECT s.event_type, s.bucket,
         COALESCE(b.n_events, 0) AS n_events, b.avg_value
  FROM spine s LEFT JOIN binned b
    ON s.event_type = b.event_type AND s.bucket = b.bucket
), feat AS (
  SELECT event_type || ':'
           || CAST(CAST(epoch(bucket) AS BIGINT) AS VARCHAR) AS rid,
         CAST(n_events AS BIGINT) AS x1,
         CAST(LAG(n_events) OVER (PARTITION BY event_type
                                  ORDER BY bucket) AS BIGINT) AS x2,
         avg_value
  FROM grid
), b0 AS (
  SELECT rid, x1, x2,
         CAST(ROUND(avg_value * 1000.0) AS BIGINT) AS y3
  FROM feat WHERE x2 IS NOT NULL AND avg_value IS NOT NULL
), mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x1) AS HUGEINT) AS sx1,
         CAST(SUM(x2) AS HUGEINT) AS sx2,
         CAST(SUM(y3) AS HUGEINT) AS sy,
         CAST(SUM(x1*y3) AS HUGEINT) AS xy1,
         CAST(SUM(x1*x1) AS HUGEINT) AS xx1,
         CAST(SUM(x2*y3) AS HUGEINT) AS xy2,
         CAST(SUM(x2*x2) AS HUGEINT) AS xx2,
         CAST(SUM(x1*x2) AS HUGEINT) AS x12
  FROM b0
), co AS (
  SELECT n, sx1, sx2, sy,
         ROUND(CAST({num1} AS DOUBLE) / CAST({det} AS DOUBLE), 8) AS b1,
         ROUND(CAST({num2} AS DOUBLE) / CAST({det} AS DOUBLE), 8) AS b2
  FROM mom
), pb AS (
  SELECT rid, x1, x2, y3, {hb} AS _b FROM b0
), bi AS (
  SELECT rid, x1, x2, y3, _b,
         ROW_NUMBER() OVER (PARTITION BY _b ORDER BY rid) AS _r
  FROM pb
), bh AS (
  SELECT _b,
         ROW_NUMBER() OVER (PARTITION BY _b
                            ORDER BY {hord}, rid) AS _r,
         x1 AS p1, x2 AS p2
  FROM pb
), pj AS (
  SELECT bi.x1, bi.x2, bi.y3, bh.p1, bh.p2
  FROM bi JOIN bh ON bi._b = bh._b AND bi._r = bh._r
), es AS (
  SELECT CAST(SUM(e0*e0) AS BIGINT) AS s0,
         CAST(SUM(e1*e1) AS BIGINT) AS s1,
         CAST(SUM(e2*e2) AS BIGINT) AS s2
  FROM (SELECT {e('x1', 'x2')} AS e0,
               {e('p1', 'x2')} AS e1,
               {e('x1', 'p2')} AS e2
        FROM pj CROSS JOIN co)
)
SELECT 'n_events' AS feature, CAST(n AS BIGINT) AS n_rows,
       b1 AS beta8,
       {mse('s0')} AS mse_base, {mse('s1')} AS mse_perm,
       {mse('s1 - s0')} AS delta_mse,
       1 AS live_base_agree, 1 AS live_perm_agree
FROM es CROSS JOIN co
UNION ALL
SELECT 'prev_n_events' AS feature, CAST(n AS BIGINT) AS n_rows,
       b2 AS beta8,
       {mse('s0')} AS mse_base, {mse('s2')} AS mse_perm,
       {mse('s2 - s0')} AS delta_mse,
       1 AS live_base_agree, 1 AS live_perm_agree
FROM es CROSS JOIN co
"""


QUERIES = {
    "ml_mlp_score_frozen": q_ml_mlp_score_frozen,  # graduated-born r14:
    #   integer-frozen MLP forward pass + predict_batch_udf agreement
    "ml_sentiment": q_ml_sentiment,
    "ml_lexicon_sentiment": q_ml_lexicon_sentiment,
    "ml_forecast_metrics": q_ml_forecast_metrics,
    "ml_ar1_train": q_ml_ar1_train,
    "ml_ar_train": q_ml_ar_train,        # graduated late r14: frozen-fit
    "ml_arma_train": q_ml_arma_train,    # graduated late r14: frozen-fit
    "ml_arma_cv": q_ml_arma_cv,          # graduated late r14: frozen-fit
    "ml_auto_arima": q_ml_auto_arima,    # graduated late r14: frozen-fit
    #   (the full auto_arima(d=None, stepwise) analog, r13)
    "ml_auto_arima_orders": q_ml_auto_arima_orders,  # graduated r14:
    #   the deterministic selection surface under the frozen-expected
    #   lookup oracle (n_train recomputed from the grid SQL)
    "ml_sentiment_model": q_ml_sentiment_model,        # graduated r15:
    #   exact teacher-class counts + live distillation-agreement flag
    "ml_tfidf_top_terms": q_ml_tfidf_top_terms,        # graduated r16:
    #   frozen 16-term signed ranking over the live label, live fit as
    #   containment + anchor-extreme flags
    "ml_tfidf_terms_frozen": q_ml_tfidf_terms_frozen,  # graduated r13:
    #   frozen vocab+idf, diagonal-ridge closed form, engine-exact
    "ml_tfidf_ridge_cv": q_ml_tfidf_ridge_cv,          # graduated r15:
    #   exact rank-block folds + frozen/const MAEs, live fits as flags
    "ml_doc_topics": q_ml_doc_topics,                  # rows-only: LDA inference
    "ml_ridge_perm_importance": q_ml_ridge_perm_importance,  # graduated
    #   r16: closed-form centered-ridge twin + portable md5 permutation,
    #   live fit as MSE-agreement flags
}

_SQL_GRID = """
b AS (
  SELECT bucket, event_type, value AS last_value FROM (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE value IS NOT NULL)
  WHERE rn = 1
), spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
  FROM (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx FROM b GROUP BY event_type)
), grid AS (
  SELECT s.event_type, s.bucket,
         last_value(b.last_value IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket
)
"""

def _sql_tfidf_frozen() -> str:
    """DuckDB twin of q_ml_tfidf_terms_frozen, generated from the same
    frozen literals so the two can never drift apart."""
    pos = " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in POS_WORDS)
    neg = " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in NEG_WORDS)
    tfs = ",\n         ".join(
        f"len(regexp_extract_all(text, '\\b{t}\\b')) AS tf{i}"
        for i, (t, _) in enumerate(TFIDF_FROZEN_VOCAB))
    sums = ",\n         ".join(
        f"CAST(SUM(tf{i} * y) AS BIGINT) AS xy{i},\n"
        f"         CAST(SUM(tf{i} * tf{i}) AS BIGINT) AS xx{i}"
        for i in range(len(TFIDF_FROZEN_VOCAB)))
    terms = "\n  UNION ALL ".join(
        f"SELECT '{t}' AS term, CAST({idf3} AS BIGINT) AS idf3, "
        f"xy{i} AS s_xy, xx{i} AS s_xx FROM s"
        for i, (t, idf3) in enumerate(TFIDF_FROZEN_VOCAB))
    return f"""
WITH base AS (
  SELECT ({pos}) - ({neg}) AS y,
         {tfs}
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT {sums}
  FROM base
), terms AS (
  {terms}
)
SELECT term, idf3, s_xy, s_xx,
       ROUND(CAST(idf3 * s_xy * 1000 AS DOUBLE)
             / CAST(idf3 * idf3 * s_xx
                    + {TFIDF_FROZEN_LAMBDA_E6} AS DOUBLE), 8) AS coef,
       CASE WHEN s_xy > 0 THEN 'pos'
            WHEN s_xy < 0 THEN 'neg' ELSE 'zero' END AS sign
FROM terms
ORDER BY abs(coef) DESC, term
LIMIT 10
"""


def _sql_tfidf_top_terms() -> str:
    """DuckDB twin of q_ml_tfidf_top_terms's frozen side: same y6
    label, same 16-term association sums, same rounded divisions, rank
    by |coef8| with the term tiebreak; the two live flags are the
    oracle's literal 1."""
    pos = " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in POS_WORDS)
    neg = " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in NEG_WORDS)
    tfs = ",\n         ".join(
        f"len(regexp_extract_all(text, '\\b{t}\\b')) AS tf{i}"
        for i, (t, _) in enumerate(TFIDF_FROZEN_VOCAB))
    sums = ",\n         ".join(
        f"CAST(SUM(tf{i} * y6) AS BIGINT) AS xy{i},\n"
        f"         CAST(SUM(tf{i} * tf{i}) AS BIGINT) AS xx{i}"
        for i in range(len(TFIDF_FROZEN_VOCAB)))
    terms = "\n  UNION ALL ".join(
        f"SELECT '{t}' AS term, CAST({idf3} AS BIGINT) AS idf3, "
        f"xy{i} AS s_xy, xx{i} AS s_xx FROM s"
        for i, (t, idf3) in enumerate(TFIDF_FROZEN_VOCAB))
    return f"""
WITH base AS (
  SELECT CAST(ROUND(((({pos}) - ({neg}))
                     / GREATEST(({pos}) + ({neg}), 1)) * 1000000.0)
              AS BIGINT) AS y6,
         {tfs}
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT {sums}
  FROM base
), terms AS (
  {terms}
), scored AS (
  SELECT term, idf3, s_xy, s_xx,
         ROUND(CAST(idf3 * s_xy * 1000 AS DOUBLE)
               / CAST(idf3 * idf3 * s_xx
                      + {TFIDF_TT_LAMBDA_E12} AS DOUBLE), 8) AS coef8,
         CASE WHEN s_xy > 0 THEN 'pos'
              WHEN s_xy < 0 THEN 'neg' ELSE 'zero' END AS sign
  FROM terms
)
SELECT term, idf3, s_xy, s_xx, coef8, sign,
       CAST(ROW_NUMBER() OVER (ORDER BY abs(coef8) DESC, term)
            AS BIGINT) AS rank,
       1 AS live_in_topk_ge_min, 1 AS live_anchors_extreme
FROM scored
"""


def _sql_tfidf_cv() -> str:
    """DuckDB twin of q_ml_tfidf_ridge_cv's exact side, generated from
    the same frozen literals and fold arithmetic so the two can never
    drift: rank-block fold membership (integer n·f//6 boundaries over
    ROW_NUMBER by doc_id), per-fold integer train sums, Spark-rounding-
    compatible coefficients, the fixed-association prediction fold, and
    explicit CAST(... AS DOUBLE) everywhere a Spark long meets a double
    (DuckDB decimal literals would otherwise change the arithmetic).
    The live-fit flags are asserted as literal 1."""
    nf = CV_FOLDS_REG
    pos = " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in POS_WORDS)
    neg = " + ".join(
        f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in NEG_WORDS)
    tfs = ",\n         ".join(
        f"len(regexp_extract_all(text, '\\b{t}\\b')) AS tf{j}"
        for j, (t, _) in enumerate(TFIDF_FROZEN_VOCAB))
    tf_names = ", ".join(f"tf{j}" for j in range(len(TFIDF_FROZEN_VOCAB)))
    s_parts = []
    for f in range(1, nf + 1):
        tr = f"rn <= (n * {f}) // {nf + 1}"
        s_parts.append(f"MAX(CASE WHEN rn = (n * {f}) // {nf + 1} "
                       f"THEN doc_id END) AS cut_{f}")
        for j in range(len(TFIDF_FROZEN_VOCAB)):
            s_parts.append(f"CAST(SUM(CASE WHEN {tr} THEN tf{j} * y6 "
                           f"ELSE 0 END) AS BIGINT) AS xy{j}_{f}")
            s_parts.append(f"CAST(SUM(CASE WHEN {tr} THEN tf{j} * tf{j} "
                           f"ELSE 0 END) AS BIGINT) AS xx{j}_{f}")
        s_parts.append(f"CAST(SUM(CASE WHEN {tr} THEN 1 ELSE 0 END) "
                       f"AS BIGINT) AS ntr_{f}")
        s_parts.append(f"CAST(SUM(CASE WHEN {tr} THEN y6 ELSE 0 END) "
                       f"AS BIGINT) AS sy_{f}")
    c_parts = []
    for f in range(1, nf + 1):
        for j, (_, idf3) in enumerate(TFIDF_FROZEN_VOCAB):
            c_parts.append(
                f"ROUND(CAST({idf3} * xy{j}_{f} * 1000 AS DOUBLE) "
                f"/ CAST({idf3} * {idf3} * xx{j}_{f} "
                f"+ {TFIDF_FROZEN_LAMBDA_E6} AS DOUBLE), 8) AS c{j}_{f}")
    e_parts = []
    for f in range(1, nf + 1):
        te = (f"rn > (n * {f}) // {nf + 1} "
              f"AND rn <= (n * {f + 1}) // {nf + 1}")
        pred = "CAST(0.0 AS DOUBLE)"
        for j, (_, idf3) in enumerate(TFIDF_FROZEN_VOCAB):
            pred += f" + c{j}_{f} * (tf{j} * {idf3})"
        pred = f"({pred}) * CAST(0.001 AS DOUBLE)"
        e_parts.append(f"CAST(SUM(CASE WHEN {te} THEN 1 ELSE 0 END) "
                       f"AS BIGINT) AS nte_{f}")
        e_parts.append(f"CAST(SUM(CASE WHEN {te} THEN "
                       f"CAST(ROUND(ABS(y6 - {pred})) AS BIGINT) "
                       f"ELSE 0 END) AS BIGINT) AS sef_{f}")
        e_parts.append(f"CAST(SUM(CASE WHEN {te} THEN "
                       f"ABS(y6 * ntr_{f} - sy_{f}) "
                       f"ELSE 0 END) AS BIGINT) AS sec_{f}")
    rows = []
    for f in range(1, nf + 1):
        rows.append(f"""SELECT {f} AS fold, c.ntr_{f} AS n_train,
       e.nte_{f} AS n_test, c.cut_{f} AS train_end_id,
       ROUND(CAST(e.sef_{f} AS DOUBLE)
             / (CAST(e.nte_{f} AS DOUBLE) * CAST(1000000 AS DOUBLE)), 6)
         AS mae_frozen,
       ROUND(CAST(e.sec_{f} AS DOUBLE)
             / (CAST(e.nte_{f} * c.ntr_{f} AS DOUBLE)
                * CAST(1000000 AS DOUBLE)), 6) AS mae_const,
       1 AS live_mae_le_const, 1 AS live_mae_le_frozen
FROM c CROSS JOIN e""")
    union = "\nUNION ALL\n".join(rows)
    sep = ",\n         "
    s_sql, c_sql, e_sql = sep.join(s_parts), sep.join(c_parts), sep.join(e_parts)
    return f"""
WITH lab AS (
  SELECT doc_id,
         CAST(ROUND(((({pos}) - ({neg}))
                     / GREATEST(({pos}) + ({neg}), 1)) * 1000000.0)
              AS BIGINT) AS y6,
         {tfs}
  FROM documents
), o AS (
  SELECT doc_id, y6, {tf_names},
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM lab
), s AS (
  SELECT {s_sql}
  FROM o
), c AS (
  SELECT s.*, {c_sql}
  FROM s
), e AS (
  SELECT {e_sql}
  FROM o CROSS JOIN c
)
{union}
"""


ORACLE = {
    "ml_mlp_score_frozen": _sql_mlp_frozen(),
    "ml_tfidf_ridge_cv": _sql_tfidf_cv(),
    "ml_ridge_perm_importance": _sql_ridge_perm(),
    "ml_tfidf_top_terms": _sql_tfidf_top_terms(),
    "ml_tfidf_terms_frozen": _sql_tfidf_frozen(),
    "ml_sentiment": """
WITH raw AS (
  SELECT event_id, event_type, value,
         ((event_id * 7) % 89 + 1) / 100 AS rneg,
         ((event_id * 13) % 89 + 1) / 100 AS rneu,
         ((event_id * 29) % 89 + 1) / 100 AS rpos
  FROM events
), p AS (
  SELECT event_id, event_type, value,
         rneg / (rneg + rneu + rpos) AS pneg,
         rneu / (rneg + rneu + rpos) AS pneu,
         rpos / (rneg + rneu + rpos) AS ppos
  FROM raw
)
SELECT event_id, event_type,
       CASE WHEN value IS NULL THEN NULL ELSE ppos - pneg END AS sentiment_score,
       CASE WHEN value IS NULL THEN NULL ELSE ppos + pneg END AS sentiment_magnitude,
       CASE WHEN value IS NULL THEN NULL
            WHEN ppos >= GREATEST(pneu, pneg) THEN 'POSITIVE'
            WHEN pneu >= pneg THEN 'NEUTRAL'
            ELSE 'NEGATIVE' END AS sentiment_label,
       CASE WHEN value IS NULL THEN NULL
            WHEN ppos - pneg > 0 THEN 'buy' ELSE 'sell' END AS action_signal
FROM p
""",
    # ml_sentiment_model (graduated r15): exact lexicon-teacher class
    # counts hash; the live student's distillation agreement is
    # asserted as literal 1. Same regex literals as
    # ml_lexicon_sentiment so the teacher math can never drift.
    "ml_sentiment_model": """
WITH c AS (
  SELECT len(regexp_extract_all(text, '\\bfast\\b'))
           + len(regexp_extract_all(text, '\\bbig\\b')) AS n_pos,
         len(regexp_extract_all(text, '\\bslow\\b'))
           + len(regexp_extract_all(text, '\\bsmall\\b')) AS n_neg
  FROM documents
), lab AS (
  SELECT CASE
           WHEN (n_pos - n_neg) / GREATEST(n_pos + n_neg, 1) > 0.05
             THEN 'POSITIVE'
           WHEN (n_pos - n_neg) / GREATEST(n_pos + n_neg, 1) < -0.05
             THEN 'NEGATIVE'
           ELSE 'NEUTRAL' END AS t
  FROM c
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN t = 'POSITIVE' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_teacher_positive,
       CAST(SUM(CASE WHEN t = 'NEUTRAL' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_teacher_neutral,
       CAST(SUM(CASE WHEN t = 'NEGATIVE' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_teacher_negative,
       1 AS student_agree_ge_min
FROM lab
""",
    "ml_lexicon_sentiment": """
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\bfast\\b'))
           + len(regexp_extract_all(text, '\\bbig\\b')) AS n_pos,
         len(regexp_extract_all(text, '\\bslow\\b'))
           + len(regexp_extract_all(text, '\\bsmall\\b')) AS n_neg
  FROM documents
)
SELECT doc_id, n_pos, n_neg,
       ROUND((n_pos - n_neg) / GREATEST(n_pos + n_neg, 1), 6) AS polarity,
       CASE WHEN (n_pos - n_neg) / GREATEST(n_pos + n_neg, 1) > 0.05 THEN 'POSITIVE'
            WHEN (n_pos - n_neg) / GREATEST(n_pos + n_neg, 1) < -0.05 THEN 'NEGATIVE'
            ELSE 'NEUTRAL' END AS lexicon_label
FROM c
""",
    "ml_forecast_metrics": """
WITH pred AS (
  SELECT event_type, value,
         LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS fcst
  FROM events
)
SELECT event_type, COUNT(*) AS n_points,
       ROUND(CAST(SUM(CAST(ABS(value - fcst) AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 6) AS mae,
       ROUND(CAST(SUM(CAST((value - fcst) * (value - fcst) AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 6) AS mse,
       ROUND(CAST(SUM(CAST(ABS(value - fcst) / GREATEST(ABS(value), 1e-8) AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 6) AS mape
FROM pred WHERE fcst IS NOT NULL AND value IS NOT NULL
GROUP BY event_type
""",
    "ml_ar1_train": f"""
WITH {_SQL_GRID},
numbered AS (
  SELECT event_type, bucket, value_ffill,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM grid WHERE value_ffill IS NOT NULL
), train AS (
  SELECT * FROM numbered WHERE rn <= n - {HOLDOUT}
), hold AS (
  SELECT event_type, value_ffill, rn - (n - {HOLDOUT}) AS h
  FROM numbered WHERE rn > n - {HOLDOUT}
), stats AS (
  SELECT event_type, COUNT(*) AS n_train, AVG(value_ffill) AS mu,
         MAX(CASE WHEN rn = n - {HOLDOUT} THEN value_ffill END) AS last_x
  FROM train GROUP BY event_type
), lagged AS (
  SELECT t.event_type,
         t.value_ffill - s.mu AS d0,
         LEAD(t.value_ffill) OVER (PARTITION BY t.event_type ORDER BY t.rn) - s.mu AS d1
  FROM train t JOIN stats s USING (event_type)
), phi AS (
  SELECT event_type,
         SUM(d0 * d1) / SUM(d0 * d0) AS phi
  FROM lagged WHERE d1 IS NOT NULL GROUP BY event_type
), fc AS (
  SELECT h.event_type, h.h, h.value_ffill AS actual,
         s.mu + POWER(p.phi, h.h) * (s.last_x - s.mu) AS predicted
  FROM hold h JOIN stats s USING (event_type) JOIN phi p USING (event_type)
)
SELECT s.event_type, s.n_train,
       ROUND(p.phi, 6) AS phi, ROUND(s.mu, 6) AS mu,
       ROUND(AVG(ABS(f.actual - f.predicted)), 6) AS mae,
       ROUND(AVG((f.actual - f.predicted) * (f.actual - f.predicted)), 6) AS mse,
       ROUND(AVG(ABS(f.actual - f.predicted) / GREATEST(ABS(f.actual), {MAPE_CLIP})), 6) AS mape
FROM fc f JOIN stats s USING (event_type) JOIN phi p USING (event_type)
GROUP BY s.event_type, s.n_train, p.phi, s.mu
""",
}

if AUTO_ARIMA_EXPECTED:
    ORACLE["ml_auto_arima_orders"] = _sql_auto_arima_orders()
for _fname in _FROZEN_FIT_COLS:
    if ML_FIT_EXPECTED.get(_fname):
        ORACLE[_fname] = _sql_frozen_fit(_fname)
