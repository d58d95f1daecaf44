"""The benchmark's workloads. Each is a closed loop: one pass waits for
the previous one, and each pass gets fresh output and checkpoint dirs.

  * speed_trickle — jobs.speed_layer.start_speed_layer drains a replayed
    backlog of a seed-chosen slice of sf0.1-shaped events, cut by
    streaming.replay.write_replay_chunks into many small event-time
    chunks (a few hundred events per stream per chunk). Per-trigger
    fixed cost dominates: offset/WAL commits, planning, state-store
    commits and the Python-worker hand-off.
  * batch_cycle   — the sf0.1-shaped events arrive as K time-ordered
    drops; after each lands, jobs.batch_job.run_batch runs one cron tick
    on the same checkpoint. Then model_registry.train_bundle/save_bundle
    and jobs.curate.run_curation run, after queries.clear_session_caches()
    so both pay their artifact builds as a fresh cron process does. JVM
    shuffle and write paths dominate; no streaming state, no per-row UDF.

A pass returns what the metrics need; `check` returns the list of failed
correctness checks for it.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures

QUERY_NAMES = ("raw_tweets", "raw_prices", "tweet_sentiment",
               "price_forecasts", "prices_with_tweets")
STATEFUL = ("price_forecasts", "prices_with_tweets")
WINDOW = "30 seconds"

TRICKLE_CHUNKS = 8           # chunks per stream → 8 micro-batches/query
TRICKLE_EVENTS = 300 * TRICKLE_CHUNKS
BATCH_DROPS = 4
# tweet texts planted into the trickle slice: scores 1, -1, -1/3, 1/3
PLANTED = ("fast big", "slow small", "big slow slow", "fast big slow")
PLANT_EVERY = 4


def _files(root: str) -> list[str]:
    """Data files under root, without checkpoints and hidden files."""
    out = []
    for dp, dns, fns in os.walk(root):
        dns[:] = [d for d in dns if not d.startswith(("_", "."))]
        out += [os.path.join(dp, f) for f in fns
                if not f.startswith(("_", "."))]
    return out


def _jsonl_rows(d: str) -> list[dict]:
    rows = []
    for p in sorted(glob.glob(os.path.join(d, "*.jsonl"))):
        with open(p) as f:
            rows += [json.loads(line) for line in f]
    return rows


def _count_lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for _ in f)


def _rows(df, cols) -> list[tuple]:
    """Sorted rows of a pandas frame, arrays as tuples (parquet read
    back by pyarrow and Spark's toPandas differ only in those)."""
    def norm(v):
        return tuple(v) if hasattr(v, "__len__") and not isinstance(
            v, str) else v
    return sorted(tuple(norm(v) for v in r)
                  for r in df[list(cols)].itertuples(index=False))


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


class Pass:
    """What one pass of a workload produced."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.wall = 0.0
        self.events = 0             # events (speed: rows over both streams)
        self.event_wall = 0.0       # wall the events went through in
        self.query_ids: dict[str, str] = {}   # query run id → span name
        self.start = 0.0
        self.extra: dict = {}


class SpeedTrickle:
    name = "speed_trickle"
    ops_per_pass = len(QUERY_NAMES)           # one drain per query
    checks_per_pass = 2 * len(QUERY_NAMES)    # rows read + content

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from big_data_crypto_sentiment_spark.catalog import load
        from big_data_crypto_sentiment_spark.jobs.batch_job import split_roles
        from big_data_crypto_sentiment_spark.model_registry import (
            BUNDLE_VERSION,
            phi_by_symbol,
            save_bundle,
        )
        from big_data_crypto_sentiment_spark.operators.windowed_join import (
            prices_with_tweets,
        )
        from big_data_crypto_sentiment_spark.streaming.replay import (
            write_replay_chunks,
        )
        c, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        sf = os.path.join(c.work, "sf")
        first = int(np.random.default_rng(c.seed).integers(
            0, fixtures.N_EVENTS - TRICKLE_EVENTS))
        with tr.span("fixtures.write"):
            sl = fixtures.events_table(c.seed).slice(first, TRICKLE_EVENTS)
            # every PLANT_EVERY-th tweet text carries lexicon words, so
            # the sentiment check sees non-zero scores
            props = sl.column("props").to_pylist()
            for i in range(0, len(props), PLANT_EVERY):
                props[i] = PLANTED[i // PLANT_EVERY % len(PLANTED)]
            sl = sl.set_column(sl.schema.get_field_index("props"), "props",
                               pa.array(props))
            fixtures.write_table(sf, "events", sl)
        # a fixed model bundle, one phi per symbol (the trainer itself
        # is timed in batch_cycle)
        bundle = {"version": BUNDLE_VERSION,
                  "models": {t: {"phi": 0.5 + 0.1 * i, "mu": 0.0}
                             for i, t in enumerate(fixtures.EVENT_TYPES)}}
        self.bundle_path = os.path.join(c.work, "models", "ar1.json")
        with tr.span("model_registry.save_bundle"):
            save_bundle(bundle, self.bundle_path)
        self.phi = phi_by_symbol(bundle)

        events = load(spark, "events", sf)
        tweets, prices = split_roles(events)
        self.tweets_dir = os.path.join(c.work, "replay", "tweets")
        self.prices_dir = os.path.join(c.work, "replay", "prices")
        # the warm-up input is one chunk of a few events per stream
        self.warm_dir = os.path.join(c.work, "warm")
        wt, wp = split_roles(events.filter(F.col("event_id") < first + 50))
        with tr.span("replay.write_chunks"):
            write_replay_chunks(tweets, self.tweets_dir, TRICKLE_CHUNKS)
            write_replay_chunks(prices, self.prices_dir, TRICKLE_CHUNKS)
            write_replay_chunks(wt, os.path.join(self.warm_dir, "t"), 1)
            write_replay_chunks(wp, os.path.join(self.warm_dir, "p"), 1)
        with tr.span("check.references"):
            self.tweets = tweets.toPandas()
            self.prices = prices.toPandas()
            self.joined = prices_with_tweets(tweets, prices, WINDOW,
                                             label="end").toPandas()
        self.warmup()

    def warmup(self) -> None:
        """One tiny drain through all five queries: Python workers,
        codegen and state-store providers start before timing."""
        out = os.path.join(self.warm_dir, "out")
        with self.ctx.tracer.span("warmup"):
            self._drain(os.path.join(self.warm_dir, "t"),
                        os.path.join(self.warm_dir, "p"), out)
        shutil.rmtree(out)

    def _drain(self, tweets_dir, prices_dir, out_dir) -> list:
        from big_data_crypto_sentiment_spark.jobs.speed_layer import (
            start_speed_layer,
        )
        tr = self.ctx.tracer
        with tr.span("speed_layer.start"):
            qs = start_speed_layer(self.ctx.spark, tweets_dir, prices_dir,
                                   out_dir, window=WINDOW,
                                   model_bundle=self.bundle_path)
        with tr.span("speed_layer.await"):
            for q in qs:
                q.awaitTermination()
        self.ctx.progress.wait_terminated([str(q.runId) for q in qs])
        return qs

    def run_pass(self, i: int) -> Pass:
        p = Pass(os.path.join(self.ctx.work, f"pass{i}"))
        with self.ctx.tracer.span("pass") as rec:
            qs = self._drain(self.tweets_dir, self.prices_dir, p.out_dir)
        p.start, p.wall = rec["start"], rec["end"] - rec["start"]
        p.query_ids = {str(q.runId): n for q, n in zip(qs, QUERY_NAMES)}
        p.extra["exceptions"] = [str(q.exception()) for q in qs
                                 if q.exception() is not None]
        p.events = len(self.tweets) + len(self.prices)
        p.event_wall = p.wall
        return p

    def check(self, p: Pass) -> list[str]:
        import pandas as pd

        from big_data_crypto_sentiment_spark.streaming.enrich import (
            NEG_WORDS,
            POS_WORDS,
        )
        from big_data_crypto_sentiment_spark.streaming.stateful import (
            reference_forecast_series,
        )
        fails = [f"query failed: {e}" for e in p.extra["exceptions"]]
        reports = self.ctx.progress.reports(p.query_ids)
        for qid, name in p.query_ids.items():
            if sum(r["numInputRows"] for r in reports
                   if r["runId"] == qid) == 0:
                fails.append(f"{name} read 0 rows")
        out = p.out_dir

        tcols, pcols = ("event_time", "symbol", "text"), \
            ("event_time", "symbol", "price")
        raw_t = pq.read_table(os.path.join(out, "raw_tweets")).to_pandas()
        if _rows(raw_t, tcols) != _rows(self.tweets, tcols):
            fails.append("raw_tweets != input tweets")
        raw_p = pq.read_table(os.path.join(out, "raw_prices")).to_pandas()
        if _rows(raw_p, pcols) != _rows(self.prices, pcols):
            fails.append("raw_prices != input prices")

        sent = _jsonl_rows(os.path.join(out, "tweet_sentiment"))
        got = sorted((pd.Timestamp(r["event_time"]), r["symbol"], r["text"],
                      r["sentiment_score"]) for r in sent)

        def score(t):
            w = t.lower().split()
            pos = sum(x in POS_WORDS for x in w)
            neg = sum(x in NEG_WORDS for x in w)
            return (pos - neg) / max(pos + neg, 1)

        want = sorted((r.event_time, r.symbol, r.text, score(r.text))
                      for r in self.tweets.itertuples(index=False))
        if not any(w[3] for w in want):
            fails.append("no input tweet carries a lexicon word")
        if len(got) != len(want) or any(
                g[:3] != w[:3] or not _close(g[3], w[3])
                for g, w in zip(got, want)):
            fails.append("tweet_sentiment != scored input tweets")

        fc = _jsonl_rows(os.path.join(out, "price_forecasts"))
        got = sorted((r["symbol"], pd.Timestamp(r["event_time"]), r["price"],
                      r["next_price_forecast"]) for r in fc)
        want = []
        for sym, g in self.prices.groupby("symbol"):
            ref = reference_forecast_series(g, self.phi.get(sym, 0.8))
            want += [(sym, r.event_time, r.price, r.next_price_forecast)
                     for r in ref.itertuples(index=False)]
        want.sort()
        if len(got) != len(want) or any(
                g[:3] != w[:3] or not _close(g[3], w[3])
                for g, w in zip(got, want)):
            fails.append("price_forecasts != reference_forecast_series")

        # windowed join: every window the final watermark closed
        last = max((r for r in reports
                    if p.query_ids[r["runId"]] == "prices_with_tweets"),
                   key=lambda r: r["batchId"])
        wm = pd.Timestamp(last["eventTime"]["watermark"]).tz_convert(None)
        jcols = ("event_timestamp", "symbol", "tweet_volume", "avg_price",
                 "last_price", "tweet_texts")
        got_j = pq.read_table(os.path.join(out, "prices_with_tweets")) \
            .to_pandas()
        want_j = self.joined[self.joined["event_timestamp"] <= wm]
        if len(want_j) == 0 or _rows(got_j, jcols) != _rows(want_j, jcols):
            fails.append(f"prices_with_tweets != batch windowed join "
                         f"(watermark {wm}: {len(got_j)} vs {len(want_j)})")
        return fails

    def output_files(self, p: Pass) -> tuple[int, int]:
        return _output_files(p.out_dir)


class BatchCycle:
    name = "batch_cycle"
    ops_per_pass = BATCH_DROPS + 3            # ticks, train, save, curate
    checks_per_pass = 2 * BATCH_DROPS + 3     # per tick: read, written

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        from big_data_crypto_sentiment_spark.catalog import load
        from big_data_crypto_sentiment_spark.streaming.replay import (
            write_replay_chunks,
        )
        c, tr = self.ctx, self.ctx.tracer
        self.sf = os.path.join(c.work, "sf")
        with tr.span("fixtures.write"):
            fixtures.write_table(self.sf, "events",
                                 fixtures.events_table(c.seed))
            fixtures.write_table(self.sf, "documents",
                                 fixtures.documents_table(c.seed))
            fixtures.write_table(self.sf, "embeddings",
                                 fixtures.embeddings_table(c.seed))
        stage = os.path.join(c.work, "drops")
        with tr.span("replay.write_chunks"):
            write_replay_chunks(load(c.spark, "events", self.sf), stage,
                                BATCH_DROPS, order_col="ts")
        self.drops = sorted(glob.glob(os.path.join(stage, "part-*")))
        self.drop_rows = [pq.ParquetFile(d).metadata.num_rows
                          for d in self.drops]
        if len(self.drops) != BATCH_DROPS or min(self.drop_rows) == 0:
            raise RuntimeError(f"expected {BATCH_DROPS} non-empty drops, "
                               f"got {self.drop_rows}")
        self.ref_stats = None
        self.warmup()

    def warmup(self) -> None:
        """One untimed tick (of the first drop, on its own checkpoint)
        and one curation. Together they start the Python workers and
        compile most of what the trainer runs too. The first curation's
        funnel stats are the reference every pass must reproduce."""
        from big_data_crypto_sentiment_spark.jobs.batch_job import run_batch
        from big_data_crypto_sentiment_spark.jobs.curate import run_curation
        c, tr = self.ctx, self.ctx.tracer
        warm = os.path.join(c.work, "warm")
        os.makedirs(os.path.join(warm, "in"))
        shutil.copyfile(self.drops[0], os.path.join(warm, "in", "drop0"))
        with tr.span("warmup"):
            with tr.span("batch_job.tick"):
                run_batch(c.spark, os.path.join(warm, "in"),
                          os.path.join(warm, "sink"),
                          os.path.join(warm, "_checkpoint"))
            with tr.span("curate.run_curation"):
                stats = run_curation(c.spark, self.sf,
                                     os.path.join(warm, "curated"))
        if self.ref_stats is None:
            self.ref_stats = stats
        shutil.rmtree(warm)

    def _cycle(self, out_dir: str) -> Pass:
        from big_data_crypto_sentiment_spark import queries
        from big_data_crypto_sentiment_spark.jobs.batch_job import run_batch
        from big_data_crypto_sentiment_spark.jobs.curate import run_curation
        from big_data_crypto_sentiment_spark.model_registry import (
            save_bundle,
            train_bundle,
        )
        c, tr = self.ctx, self.ctx.tracer
        p = Pass(out_dir)
        in_dir, sink = os.path.join(out_dir, "in"), os.path.join(out_dir,
                                                                  "sink")
        os.makedirs(in_dir)
        p.extra["ticks"] = []
        with tr.span("queries.clear_session_caches"):
            queries.clear_session_caches()
        for k in range(BATCH_DROPS):
            with tr.span("land"):
                shutil.copyfile(self.drops[k],
                                os.path.join(in_dir, f"drop{k}"))
            t0 = time.time()
            with tr.span("batch_job.tick") as rec:
                run_batch(c.spark, in_dir, sink,
                          os.path.join(out_dir, "_checkpoint"))
            ids = c.progress.started_since(t0)
            c.progress.wait_terminated(ids)
            p.query_ids.update({i: "batch_job.tick" for i in ids})
            p.extra["ticks"].append((rec["end"] - rec["start"], ids))
        with tr.span("model_registry.train_bundle"):
            p.extra["bundle"] = train_bundle(c.spark, self.sf)
        with tr.span("model_registry.save_bundle"):
            save_bundle(p.extra["bundle"],
                        os.path.join(out_dir, "models", "ar1.json"))
        with tr.span("curate.run_curation"):
            p.extra["stats"] = run_curation(c.spark, self.sf,
                                            os.path.join(out_dir, "curated"))
        return p

    def run_pass(self, i: int) -> Pass:
        with self.ctx.tracer.span("pass") as rec:
            p = self._cycle(os.path.join(self.ctx.work, f"pass{i}"))
        p.start, p.wall = rec["start"], rec["end"] - rec["start"]
        p.events = sum(self.drop_rows)
        p.event_wall = sum(t[0] for t in p.extra["ticks"])
        return p

    def check(self, p: Pass) -> list[str]:
        fails = []
        sink = os.path.join(p.out_dir, "sink")
        for k, (_, ids) in enumerate(p.extra["ticks"]):
            n = self.drop_rows[k]
            reports = self.ctx.progress.reports(ids)
            # numInputRows also counts run_batch's isEmpty() probe
            # scan, so it is not an exact row count; 0 means the tick
            # silently drained nothing
            if sum(r["numInputRows"] for r in reports) == 0:
                fails.append(f"tick {k} read 0 rows")
            # JSONL files carry their micro-batch id as a name prefix
            wrote = tuple(
                sum(_count_lines(f) for r in reports if r["numInputRows"]
                    for f in glob.glob(os.path.join(
                        sink, d, f"b{r['batchId']}-*.jsonl")))
                for d in ("raw_batch_tweets", "raw_batch_prices"))
            if wrote != (n, n):
                fails.append(f"tick {k} wrote {wrote} JSONL rows, "
                             f"drop has {n}")
        wh = os.path.join(p.out_dir, "sink", "batch_prices_with_tweets")
        if not glob.glob(os.path.join(wh, "date=*", "*.parquet")):
            fails.append("no warehouse partitions written")
        models = p.extra["bundle"]["models"]
        if sorted(models) != list(fixtures.EVENT_TYPES) or not all(
                math.isfinite(m["phi"]) and math.isfinite(m["mu"])
                for m in models.values()):
            fails.append(f"bundle models {models} lack a finite phi/mu "
                         f"for every symbol")
        if p.extra["stats"] != self.ref_stats:
            fails.append(f"funnel stats {p.extra['stats']} != "
                         f"reference {self.ref_stats}")
        return fails

    def output_files(self, p: Pass) -> tuple[int, int]:
        return _output_files(*(os.path.join(p.out_dir, d)
                               for d in ("sink", "models", "curated")))


def _output_files(*dirs: str) -> tuple[int, int]:
    files = [f for d in dirs for f in _files(d)]
    return len(files), sum(os.path.getsize(f) for f in files)


WORKLOADS = {w.name: w for w in (SpeedTrickle, BatchCycle)}
