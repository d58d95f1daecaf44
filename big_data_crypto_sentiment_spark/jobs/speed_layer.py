"""The speed-layer job (SURVEY.md §3.1 — dataflow/stream_join.py
reborn): two input streams fan out to raw capture, per-record sentiment
enrichment, per-symbol online forecasts, and the watermarked windowed
join — five concurrent queries off shared upstreams, each with its own
checkpoint (T8). Every query runs in the JVM: sentiment is a Catalyst
expression and the forecast a window pass per micro-batch, so no
micro-batch hands rows to a Python worker.

Run: python -m big_data_crypto_sentiment_spark.jobs.speed_layer \
       --tweets-dir <dir> --prices-dir <dir> --out-dir <root> \
       [--model-bundle ar1.json] [--window "30 seconds"] [--once]
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession

from ..model_registry import load_bundle, phi_by_symbol
from ..streaming.enrich import enrich_with_sentiment
from ..streaming.replay import replay_dir
from ..streaming.sinks import start_capture_sink, start_jsonl_sink
from ..streaming.stateful import start_forecast_sink
from ..streaming.windowed import streaming_prices_with_tweets


def start_speed_layer(spark: SparkSession, tweets_dir: str, prices_dir: str,
                      out_dir: str, window: str = "30 seconds",
                      watermark: str = "0 seconds",
                      model_bundle: str | None = None):
    """Start all five queries; returns them (caller awaits/stops)."""
    t_schema = spark.read.parquet(tweets_dir).schema
    p_schema = spark.read.parquet(prices_dir).schema
    tweets = replay_dir(spark, tweets_dir, t_schema)
    prices = replay_dir(spark, prices_dir, p_schema)

    phis = phi_by_symbol(load_bundle(model_bundle)) if model_bundle else None

    def ck(name):
        return os.path.join(out_dir, "_checkpoints", name)

    queries = [
        # raw capture of both streams (S3)
        start_capture_sink(tweets, os.path.join(out_dir, "raw_tweets"),
                           ck("raw_tweets")),
        start_capture_sink(prices, os.path.join(out_dir, "raw_prices"),
                           ck("raw_prices")),
        # per-tweet sentiment enrichment (T7/M1 path)
        start_jsonl_sink(enrich_with_sentiment(tweets),
                         os.path.join(out_dir, "tweet_sentiment"),
                         ck("tweet_sentiment")),
        # per-tick online forecast (T6/M2), phi from the trained bundle
        start_forecast_sink(prices, os.path.join(out_dir, "price_forecasts"),
                            ck("price_forecasts"), phi_map=phis),
    ]
    # windowed join (J1 union form) — append on watermark expiry (T3)
    joined = streaming_prices_with_tweets(tweets, prices,
                                          window_duration=window,
                                          watermark=watermark)
    queries.append(
        joined.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "prices_with_tweets"))
        .option("checkpointLocation", ck("prices_with_tweets"))
        .outputMode("append").trigger(availableNow=True).start())
    return queries


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tweets-dir", required=True)
    ap.add_argument("--prices-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--window", default="30 seconds")
    ap.add_argument("--model-bundle", default=None)
    args = ap.parse_args(argv)
    from ..session import get_spark
    spark = get_spark("speed-layer")
    for q in start_speed_layer(spark, args.tweets_dir, args.prices_dir,
                               args.out_dir, args.window,
                               model_bundle=args.model_bundle):
        q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
