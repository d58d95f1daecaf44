"""Checkpoint restart recovery: kill a streaming query mid-stream,
restart it against the SAME checkpoint, and prove exactly-once output —
no rows lost from pre-kill batches, none duplicated on replay, and new
files drained after the restart. This is the T9 discipline tested at
the query-lifecycle level (the sink tests cover idempotent file
naming; this covers the checkpoint's source-offset replay)."""

from datetime import datetime, timedelta

from big_data_crypto_sentiment_spark.streaming.sinks import (
    start_capture_sink,
    start_jsonl_sink,
)

SCHEMA = "event_time timestamp, symbol string, price double"
T0 = datetime(2024, 1, 1, 12, 0, 0)


def _rows(lo, hi):
    return [(T0 + timedelta(seconds=i), "BTC", float(i))
            for i in range(lo, hi)]


def _drop(spark, src, lo, hi):
    spark.createDataFrame(_rows(lo, hi), SCHEMA).coalesce(1) \
         .write.mode("append").parquet(src)


def test_capture_sink_survives_restart_exactly_once(spark, tmp_path):
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _drop(spark, src, 0, 10)

    def start():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return start_capture_sink(stream, out, ck, trigger_once=False)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # "crash" between drops

    _drop(spark, src, 10, 25)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(r.price for r in spark.read.parquet(out).collect())
    assert got == [float(i) for i in range(25)]  # no loss, no dups


def test_jsonl_sink_replays_idempotently_after_restart(spark, tmp_path):
    import glob
    import json
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _drop(spark, src, 0, 8)

    def start():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return start_jsonl_sink(stream, out, ck)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _drop(spark, src, 8, 12)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    prices = sorted(
        json.loads(line)["price"]
        for p in glob.glob(f"{out}/*.jsonl") for line in open(p))
    assert prices == [float(i) for i in range(12)]


FC_COLS = ("symbol", "event_time", "price", "next_price_forecast")


def _forecast_rows(out_dir, prefix=""):
    import glob
    import json
    return sorted(
        tuple(json.loads(line)[c] for c in FC_COLS)
        for p in glob.glob(f"{out_dir}/{prefix}*.jsonl")
        for line in open(p))


def test_forecast_sink_restart_and_replay_match_reference(spark, tmp_path):
    """The per-symbol AR(1) state survives a stop/restart on the same
    checkpoint (4 chunks, then 4 more), and a batch replayed because
    its commit never landed rewrites the same documents and the same
    state snapshot — it must read the snapshot BEFORE its own."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from big_data_crypto_sentiment_spark.queries.flagship import prices_role
    from big_data_crypto_sentiment_spark.streaming.replay import (
        replay_dir,
        write_replay_chunks,
    )
    from big_data_crypto_sentiment_spark.streaming.stateful import (
        reference_forecast_series,
        start_forecast_sink,
    )
    from tests.test_streaming import SF_DIR

    raw = prices_role(spark, SF_DIR)
    times = sorted(r.event_time for r in raw.select("event_time").collect())
    cut = times[len(times) // 2]
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain():
        prices = replay_dir(spark, src, raw.schema)
        q = start_forecast_sink(prices, out, ck, phi=0.8)
        try:
            assert q.awaitTermination(600)
        finally:
            q.stop()
        assert q.exception() is None

    write_replay_chunks(raw.filter(F.col("event_time") < cut), src, 4)
    drain()   # "crash" between the two halves
    write_replay_chunks(raw.filter(F.col("event_time") >= cut), src, 4)
    drain()

    got = pd.DataFrame(_forecast_rows(out), columns=list(FC_COLS))
    got["event_time"] = pd.to_datetime(got["event_time"])
    got = got.sort_values(["symbol", "event_time"]).reset_index(drop=True)
    want = (reference_forecast_series(raw.toPandas(), phi=0.8)
            .sort_values(["symbol", "event_time"]).reset_index(drop=True))
    assert len(got) == len(want) == raw.count()
    pd.testing.assert_series_equal(got["next_price_forecast"],
                                   want["next_price_forecast"], rtol=1e-12)

    # replay the last batch: its commit is lost, its outputs are not
    commits = os.path.join(ck, "commits")
    k = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert k == 7
    snap = os.path.join(ck, "forecast_state", f"{k}.json")
    rows_k = _forecast_rows(out, f"batch{k}-")
    with open(snap, "rb") as f:
        snap_bytes = f.read()
    inodes = {p: os.stat(os.path.join(out, p)).st_ino
              for p in os.listdir(out) if p.startswith(f"batch{k}-")}
    snap_ino = os.stat(snap).st_ino
    for name in (str(k), f".{k}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    drain()

    assert os.path.exists(os.path.join(commits, str(k)))
    assert rows_k and _forecast_rows(out, f"batch{k}-") == rows_k
    assert all(os.stat(os.path.join(out, p)).st_ino != ino
               for p, ino in inodes.items() if os.path.exists(
                   os.path.join(out, p)))   # rewritten, not left alone
    assert os.stat(snap).st_ino != snap_ino
    with open(snap, "rb") as f:
        assert f.read() == snap_bytes
