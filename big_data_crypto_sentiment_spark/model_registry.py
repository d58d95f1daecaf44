"""Model artifact registry (SURVEY.md S17).

The reference ships a joblib dict {symbol: ARIMA} to GCS after training
(analytical_module/arima.py:547-553,722-725) and the streaming job loads
it at worker setup (dataflow/stream_join.py:355-368). Spark-first form:
the trained bundle is plain data (per-symbol closed-form AR(1) params
from ml.q_ml_ar1_train), persisted as JSON (stdlib — no pickle/joblib
trust surface). The speed layer turns `phi_by_symbol(bundle)` into a
literal map inside its forecast expression, so the parameters reach
the executors with the plan — the replacement for per-worker lazy
model loading.

Scale notes: O(symbols) floats in a plan are trivially small; a real
heavyweight model would ship as a broadcast artifact loaded once per
executor, the shape `streaming/enrich.py:enrich_with_model_score`
takes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

BUNDLE_VERSION = 1


def train_bundle(spark: SparkSession, sf_dir: str) -> dict:
    """Run the batch trainer and shape its output as {symbol: params}."""
    from .queries.ml import q_ml_ar1_train
    rows = q_ml_ar1_train(spark, sf_dir).collect()
    return {
        "version": BUNDLE_VERSION,
        "models": {
            r.event_type: {"phi": r.phi, "mu": r.mu, "n_train": r.n_train,
                           "mae": r.mae, "mape": r.mape}
            for r in rows if r.phi is not None
        },
    }


def save_bundle(bundle: dict, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(bundle, f, sort_keys=True)
    os.replace(tmp, path)


def load_bundle(path: str) -> dict:
    with open(path) as f:
        bundle = json.load(f)
    if bundle.get("version") != BUNDLE_VERSION:
        raise ValueError(f"unsupported bundle version {bundle.get('version')}")
    return bundle


def phi_by_symbol(bundle: dict, default: float = 0.8) -> dict[str, float]:
    return {sym: m.get("phi", default)
            for sym, m in bundle.get("models", {}).items()}
