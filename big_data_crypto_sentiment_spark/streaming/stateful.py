"""Per-symbol online forecast (SURVEY.md M2/T6).

The reference keeps a worker-resident ARIMA per symbol and does
`model.update([price]); predict(1)` per tick with best-effort,
non-checkpointed state (dataflow/stream_join.py:349-398).

The model here is the closed-form online AR(1) around a running mean:
    forecast_{t+1} = mu_t + phi * (x_t - mu_t)
with mu_t the running average over every tick of the symbol so far and
phi fixed (the batch trainer ml.q_ml_ar1_train produces per-symbol phi;
pass it in). Since mu_t is sum/count, the per-symbol state is two
numbers, and within one micro-batch the running values are a window
aggregate — no per-row Python is needed:

  * `start_forecast_sink` (the speed layer's form) is a `foreachBatch`
    query. Each batch reads the latest `(n, sum)` snapshot older than
    itself from `<checkpoint>/forecast_state/<id>.json`, adds the
    running count and sum of a window partitioned by symbol and
    ordered by event time, writes the forecasts with
    `sinks.write_jsonl`, and then writes its own snapshot atomically.
    The newest row per symbol, which the snapshot needs, comes back as
    an observed metric of that same write job: one shuffle and no
    second pass over the batch. Snapshots are deleted only when older
    than the one a batch read, so a batch replayed after a lost commit
    reads the same snapshot and rewrites the same files (T9). State
    survives restarts with the checkpoint — strictly stronger than the
    reference's, which dies with a worker — and the whole batch runs
    in the JVM.
  * `online_forecast_tws` is the same model on Spark 4's
    transformWithState API, row at a time in a Python worker.

Semantics note (SURVEY.md §7 "hard" #1): updates happen per row in
event-time order exactly like the reference's per-element DoFn, but
emission granularity is per micro-batch — documented, and tested at
the sequence level against `reference_forecast_series`.

Scale notes: the snapshot holds two numbers per symbol and is read and
written on the driver once per batch; the shuffle is the window's
partitioning by symbol. Snapshot and phi enter the plan as literal
maps, and a map lookup scans its keys, so per-row cost grows with the
symbol count — cheap for the tens of symbols a market feed carries;
past a few thousand, a broadcast join against the snapshot would be
the form to use.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..sinks import write_jsonl

FORECAST_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("event_time", T.TimestampType()),
    T.StructField("price", T.DoubleType()),
    T.StructField("next_price_forecast", T.DoubleType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("last", T.DoubleType()),
])

DEFAULT_PHI = 0.8


def _step(n: int, mean: float, last: float, price: float,
          phi: float) -> Tuple[int, float, float, float]:
    """One online update; returns (n, mean, last, forecast_after_update)."""
    n += 1
    mean += (price - mean) / n
    last = price
    return n, mean, last, mean + phi * (last - mean)


def _by_symbol(values: dict, default) -> Column:
    """`values[symbol]` as a literal-map lookup, else `default`."""
    if not values:
        return F.lit(default)
    lookup = F.create_map(*[F.lit(x) for kv in sorted(values.items())
                            for x in kv])
    return F.coalesce(lookup[F.col("symbol")], F.lit(default))


def forecast_batch(prices: DataFrame, snapshot: dict,
                   phi: float = DEFAULT_PHI,
                   phi_map: dict | None = None) -> DataFrame:
    """One micro-batch of (symbol, event_time, price) → FORECAST_SCHEMA
    columns plus each row's running `n`/`total` and a `last` flag on
    the newest row per symbol. `snapshot` is {symbol: [n, sum]} of all
    earlier batches. One projection, so the plan is analyzed once."""
    by_time = Window.partitionBy("symbol").orderBy("event_time", "price")
    running = by_time.rowsBetween(Window.unboundedPreceding,
                                  Window.currentRow)
    whole = by_time.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing)
    price = F.col("price").cast("double")
    k = F.count("*").over(running)
    n = _by_symbol({s: v[0] for s, v in snapshot.items()}, 0) + k
    total = (_by_symbol({s: float(v[1]) for s, v in snapshot.items()}, 0.0)
             + F.sum(price).over(running))
    mean = total / n
    fc = mean + _by_symbol(phi_map, phi) * (price - mean)
    return prices.select("symbol", "event_time", price.alias("price"),
                         fc.alias("next_price_forecast"), n.alias("n"),
                         total.alias("total"),
                         (k == F.count("*").over(whole)).alias("last"))


def _snapshots(state_dir: str) -> list[int]:
    return sorted(int(os.path.basename(p)[:-5])
                  for p in glob.glob(os.path.join(state_dir, "*.json"))
                  if os.path.basename(p)[:-5].isdigit())


def start_forecast_sink(prices: DataFrame, out_dir: str, checkpoint: str,
                        phi: float = DEFAULT_PHI,
                        phi_map: dict | None = None) -> StreamingQuery:
    """prices: (symbol, event_time, price) stream → per-tick forecast
    documents `batch{id}-part-NNNNN.jsonl` in out_dir; drains what is
    available, then stops. ``phi_map``: optional per-symbol phi, e.g.
    model_registry.phi_by_symbol(bundle), so the streaming job consumes
    the batch trainer's artifact, mirroring the reference's GCS-bundle
    load (stream_join.py:355-368); other symbols use ``phi``."""
    state_dir = os.path.join(checkpoint, "forecast_state")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        older = [i for i in _snapshots(state_dir) if i < batch_id]
        snapshot = {}
        if older:
            with open(os.path.join(state_dir, f"{older[-1]}.json")) as f:
                snapshot = json.load(f)
        # the newest row per symbol comes back with the write's own job
        last = Observation()
        fc = forecast_batch(batch_df, snapshot, phi, phi_map).observe(
            last, F.collect_list(F.when(F.col("last"), F.struct(
                "symbol", "n", "total"))).alias("rows"))
        write_jsonl(fc.select(*FORECAST_SCHEMA.fieldNames()), out_dir,
                    prefix=f"batch{batch_id}-")
        for r in last.get["rows"]:
            snapshot[r.symbol] = [r.n, r.total]
        os.makedirs(state_dir, exist_ok=True)
        path = os.path.join(state_dir, f"{batch_id}.json")
        with open(path + ".tmp", "w") as f:
            json.dump(snapshot, f, sort_keys=True)
        os.replace(path + ".tmp", path)
        for i in older[:-1]:
            os.remove(os.path.join(state_dir, f"{i}.json"))

    return (prices.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def online_forecast_tws(prices: DataFrame, phi: float = DEFAULT_PHI,
                        phi_map=None) -> DataFrame:
    """The same online AR(1) forecast on Spark 4's transformWithState
    API — the successor to applyInPandasWithState: state lives in
    named, typed handles (ValueState here) inside the RocksDB state
    store (the API REQUIRES RocksDBStateStoreProvider), which is the
    at-scale configuration anyway (state no longer bounded by executor
    heap; incremental checkpointing). Emission semantics are identical
    to start_forecast_sink — the parity tests pin both against the same
    sequential reference. (The parity test skips where google.protobuf
    — a pyspark dependency this container omits — is unavailable:
    transformWithState's Python driver worker speaks a protobuf state
    protocol. The operator code itself is plain pyspark API.)"""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Forecast(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("ar1", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (symbol,) = key
            lookup = getattr(phi_map, "value", phi_map)
            sym_phi = (lookup or {}).get(symbol, phi)
            st = self._st.get() if self._st.exists() else None
            n, mean, last = st if st is not None else (0, 0.0, 0.0)
            out = []
            for pdf in rows:
                pdf = pdf.sort_values("event_time")
                for row in pdf.itertuples(index=False):
                    price = float(row.price)
                    n, mean, last, fc = _step(n, mean, last, price,
                                              sym_phi)
                    out.append((symbol, row.event_time, price, fc))
            self._st.update((n, mean, last))
            yield pd.DataFrame(
                out, columns=[f.name for f in FORECAST_SCHEMA])

        def close(self) -> None:
            pass

    return (prices.groupBy("symbol")
            .transformWithStateInPandas(
                statefulProcessor=_Forecast(),
                outputStructType=FORECAST_SCHEMA,
                outputMode="Append",
                timeMode="None"))


def reference_forecast_series(prices: pd.DataFrame,
                              phi: float = DEFAULT_PHI) -> pd.DataFrame:
    """Pandas twin for tests: the exact sequential semantics."""
    out = []
    states: dict[str, Tuple[int, float, float]] = {}
    for row in prices.sort_values(["event_time"]).itertuples(index=False):
        n, mean, last = states.get(row.symbol, (0, 0.0, 0.0))
        n, mean, last, fc = _step(n, mean, last, float(row.price), phi)
        states[row.symbol] = (n, mean, last)
        out.append((row.symbol, row.event_time, float(row.price), fc))
    return pd.DataFrame(out, columns=["symbol", "event_time", "price",
                                      "next_price_forecast"])
