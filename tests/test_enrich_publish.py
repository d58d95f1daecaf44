"""T7 per-record pandas_udf enrichment (batch ≡ streaming) and S16
publisher message wrapping."""

import json

import pytest

from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.streaming.enrich import (
    enrich_with_sentiment,
    wrap_for_publish,
)


def _tweets(spark):
    return spark.createDataFrame(
        [("ETH", "moon fast big", "2024-01-01T10:00:00"),
         ("SOL", "outage slow sell", "2024-01-01T10:00:30"),
         ("FTM", "neutral words only", "2024-01-01T10:01:00"),
         ("SHIB", None, "2024-01-01T10:01:30")],
        ["symbol", "text", "ts_str"],
    ).withColumn("event_time", F.to_timestamp("ts_str")).drop("ts_str")


def test_enrichment_scores_batch(spark):
    out = {r.symbol: r.sentiment_score
           for r in enrich_with_sentiment(_tweets(spark)).collect()}
    assert out["ETH"] == 1.0
    assert out["SOL"] == -1.0
    assert out["FTM"] == 0.0
    assert out["SHIB"] is None


def test_enrichment_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _tweets(spark).write.parquet(src)
    stream = (spark.readStream.schema(_tweets(spark).schema).parquet(src))
    q = (enrich_with_sentiment(stream)
         .writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    try:
        q.processAllAvailable()
        got = {r.symbol: r.sentiment_score
               for r in spark.table("enriched").collect()}
    finally:
        q.stop()
    want = {r.symbol: r.sentiment_score
            for r in enrich_with_sentiment(_tweets(spark)).collect()}
    assert got == want


def test_wrap_for_publish_shape_and_attributes(spark):
    msgs = wrap_for_publish(_tweets(spark), key_col="symbol",
                            ts_col="event_time",
                            attr_cols=("symbol",)).collect()
    by_key = {m.key: m for m in msgs}
    eth = by_key["ETH"]
    payload = json.loads(eth.value)
    assert payload["symbol"] == "ETH" and payload["text"] == "moon fast big"
    assert eth.attributes["event_timestamp"] == "2024-01-01T10:00:00Z"
    assert eth.attributes["symbol"] == "ETH"


def test_stream_static_join_enriches_and_keeps_unmatched(spark, tmp_path):
    from big_data_crypto_sentiment_spark.streaming.enrich import (
        join_static_dim,
    )
    src = str(tmp_path / "ssd_src")
    _tweets(spark).write.parquet(src)
    stream = spark.readStream.schema(_tweets(spark).schema).parquet(src)
    dim = spark.createDataFrame(
        [("ETH", "ethereum", 18), ("SOL", "solana", 9),
         ("FTM", "fantom", 18)],  # SHIB intentionally absent
        ["symbol", "asset_name", "decimals"])
    q = (join_static_dim(stream, dim, "symbol")
         .writeStream.format("memory").queryName("ss_dim")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_ssd"))
         .start())
    try:
        q.processAllAvailable()
        got = {r.symbol: r for r in spark.table("ss_dim").collect()}
    finally:
        q.stop()
    assert got["ETH"].asset_name == "ethereum"
    assert got["SOL"].decimals == 9
    # left join: the fact row without a dim entry survives with NULLs
    assert "SHIB" in got and got["SHIB"].asset_name is None


# --- r13: predict_batch_udf heavyweight-model shape (T7 full form) ---
def _vectors(spark, n=40, dim=6):
    import numpy as np
    rng = np.random.default_rng(11)
    rows = [(i, [float(v) for v in rng.standard_normal(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_model_score_matches_numpy_reference(spark):
    """The distributed predict_batch_udf scores equal a local numpy
    replay of the same broadcast weights — the batch plumbing adds
    nothing and loses nothing."""
    import numpy as np
    from big_data_crypto_sentiment_spark.streaming.enrich import (
        enrich_with_model_score,
        stub_sentiment_weights,
    )
    dim = 6
    df = _vectors(spark, dim=dim)
    got = {r.vec_id: r.model_score
           for r in enrich_with_model_score(df, dim).collect()}
    w1, b1, w2, b2 = stub_sentiment_weights(dim)
    x = np.array([r.embedding for r in df.orderBy("vec_id").collect()],
                 dtype=np.float32)
    h = np.maximum(x @ w1 + b1, 0.0)
    logits = h @ w2 + b2
    e = np.exp(logits - logits.max(axis=1, keepdims=True))
    p = e / e.sum(axis=1, keepdims=True)
    want = (p[:, -1] - p[:, 0]).astype(np.float64)
    for i in range(len(want)):
        assert got[i] == pytest.approx(want[i], abs=1e-9)


def test_model_score_streaming_matches_batch(spark, tmp_path):
    """The same predict_batch_udf plan runs unchanged on a streaming
    frame (stream_join.py:231-346's per-worker model load, Spark
    form), and every micro-batch score equals the batch run."""
    from big_data_crypto_sentiment_spark.streaming.enrich import (
        enrich_with_model_score,
        stub_sentiment_weights,
    )
    dim = 6
    df = _vectors(spark, dim=dim)
    src = str(tmp_path / "vec_src")
    df.write.parquet(src)
    weights = stub_sentiment_weights(dim)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (enrich_with_model_score(stream, dim, weights=weights)
         .writeStream.format("memory").queryName("model_scored")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_model"))
         .start())
    try:
        q.processAllAvailable()
        got = {r.vec_id: r.model_score
               for r in spark.table("model_scored").collect()}
    finally:
        q.stop()
    want = {r.vec_id: r.model_score
            for r in enrich_with_model_score(df, dim,
                                             weights=weights).collect()}
    assert got == want


def _py_lexicon_score(t):
    """The Python scorer the Catalyst expression replaces."""
    from big_data_crypto_sentiment_spark.streaming.enrich import (
        NEG_WORDS,
        POS_WORDS,
    )
    if t is None or not t:
        return None
    words = t.lower().split()
    p = sum(w in POS_WORDS for w in words)
    n = sum(w in NEG_WORDS for w in words)
    return (p - n) / max(p + n, 1)


def test_lexicon_score_matches_python_split_on_hostile_text(spark):
    """The native score equals the Python one over `t.lower().split()`
    for every separator str.split() knows — Java's \\s alone misses
    \\x1c-\\x1f, \\x85, \\xa0 and the Unicode spaces — and for
    separator-like characters str.split() does NOT split on."""
    import sys
    py_spaces = [chr(c) for c in range(sys.maxunicode + 1)
                 if chr(c).isspace()]
    for c in ("\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", "\u3000",
              *map(chr, range(0x2000, 0x200b))):
        assert c in py_spaces
    not_spaces = ["\u180e", "\u200b", "\u2060", "\ufeff", "\x1b", "\x00"]
    texts = [None, "", " ", "\t\n \r", "\x1c\x85\u3000",
             "  Moon\tFAST\nsell  ", "\tUP down\n", "OUTAGE", "neutral",
             "moon moon moon sell", "BUY\r\nsell\x0bslow\x0cup"]
    texts += [f"moon{c}sell{c}{c}BUY" for c in py_spaces + not_spaces]
    texts += [f"{c}fast{c}" for c in py_spaces + not_spaces]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {r.id: r.sentiment_score
           for r in enrich_with_sentiment(df).collect()}
    want = {i: _py_lexicon_score(t) for i, t in enumerate(texts)}
    assert {want[i] for i in want} >= {None, 0.0, 1.0, -1.0, 1 / 3}
    bad = {texts[i]: (got[i], want[i]) for i in want if got[i] != want[i]}
    assert not bad
