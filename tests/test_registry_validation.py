"""Model registry roundtrip + per-symbol phi into the streaming forecast, and
magic-byte/gzip validation (bytes form + distributed binaryFile form)."""

import gzip

import pytest

from big_data_crypto_sentiment_spark.model_registry import (
    load_bundle,
    phi_by_symbol,
    save_bundle,
    train_bundle,
)
from big_data_crypto_sentiment_spark.sources.validation import (
    sniff,
    validate_dir,
    validate_payload,
)

SF_DIR = "/root/testdata/sf0.01"


def test_bundle_train_save_load_roundtrip(spark, tmp_path):
    bundle = train_bundle(spark, SF_DIR)
    assert bundle["models"], "trainer produced no models"
    path = str(tmp_path / "models" / "ar1.json")
    save_bundle(bundle, path)
    back = load_bundle(path)
    assert back == bundle
    phis = phi_by_symbol(back)
    assert all(isinstance(v, float) for v in phis.values())


def test_bundle_version_gate(tmp_path):
    path = str(tmp_path / "bad.json")
    save_bundle({"version": 999, "models": {}}, path)
    with pytest.raises(ValueError, match="version"):
        load_bundle(path)


def test_broadcast_bundle_reaches_stateful_forecast(spark, tmp_path):
    """S17 end to end: bundle → per-symbol phi → the speed layer's
    forecast sink; a symbol the bundle lacks uses the default phi."""
    import glob
    import json
    from datetime import datetime

    from big_data_crypto_sentiment_spark.streaming.stateful import (
        start_forecast_sink,
    )

    bundle = {"version": 1, "models": {"ETH": {"phi": 0.5, "mu": 0.0,
                                               "n_train": 10, "mae": 0.0,
                                               "mape": 0.0}}}
    schema = "symbol string, event_time timestamp, price double"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(sym, datetime(2024, 1, 1, 0, 0, s), p)
         for sym in ("ETH", "SOL") for s, p in ((0, 10.0), (15, 20.0))],
        schema).write.parquet(src)
    out = str(tmp_path / "out")
    q = start_forecast_sink(spark.readStream.schema(schema).parquet(src),
                            out, str(tmp_path / "ck"), phi=0.9,
                            phi_map=phi_by_symbol(bundle))
    try:
        assert q.awaitTermination(600)
    finally:
        q.stop()
    last = {}
    for p in sorted(glob.glob(f"{out}/*.jsonl")):
        for line in open(p):
            d = json.loads(line)
            if d["price"] == 20.0:
                last[d["symbol"]] = d["next_price_forecast"]
    # after 2 ticks: mean 15, last 20 → forecast = 15 + 0.5·(20−15) = 17.5
    assert last["ETH"] == pytest.approx(17.5)
    # unknown symbol falls back to the default phi
    assert last["SOL"] == pytest.approx(15 + 0.9 * 5)


def test_sniff_and_gzip_revalidation():
    avro = b"Obj\x01" + b"rest"
    assert sniff(avro) == "avro"
    assert validate_payload(gzip.compress(avro)) == ("avro", True)
    assert validate_payload(gzip.compress(b"garbage")) == ("unknown", False)
    assert validate_payload(b"\x1f\x8btruncated") == ("gzip", False)
    assert validate_payload(b"PAR1xxxx") == ("parquet", True)
    assert validate_payload(b"random") == ("unknown", False)


def test_validate_dir_distributed(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "good.avro").write_bytes(b"Obj\x01data")
    (d / "good.gz").write_bytes(gzip.compress(b"Obj\x01data"))
    (d / "bad.bin").write_bytes(b"nonsense")
    out = {r.path.split("/")[-1]: r
           for r in validate_dir(spark, str(d)).collect()}
    assert out["good.avro"].format == "avro" and out["good.avro"].valid
    assert out["good.gz"].format == "avro" and out["good.gz"].valid
    assert not out["bad.bin"].valid


def test_clear_session_caches_evicts_and_unpersists(spark):
    """clear_session_caches drops every module cache entry and
    unpersists cached DataFrames — the fixture-swap eviction hook for
    single-process multi-SF harness loops."""
    from pyspark import StorageLevel

    from big_data_crypto_sentiment_spark.queries import (
        clear_session_caches,
    )
    from big_data_crypto_sentiment_spark.queries import ml as _ml
    df = _ml._labeled_docs(spark, "/root/testdata/sf0.001")
    assert df.storageLevel != StorageLevel.NONE
    assert clear_session_caches() >= 1
    assert df.storageLevel == StorageLevel.NONE
    assert _ml._LABELED_CACHE == {}


def test_every_module_session_cache_is_discoverable():
    """Session-cache eviction is convention-driven (`_*_CACHE` dict
    attributes on queries.* modules). This pins (a) the discovery
    finds every cache the codebase currently defines, and (b) no
    module grows a persisted-DataFrame cache under a name the
    convention misses (any module-level dict whose name mentions
    CACHE must match the discovery pattern)."""
    from big_data_crypto_sentiment_spark import queries as Q
    discovered = {id(c) for c in Q.session_caches()}
    assert len(discovered) >= 9        # the nine known caches
    stragglers = []
    for m in Q._MODULES:
        for name in dir(m):
            if "CACHE" in name.upper() and isinstance(
                    getattr(m, name), dict):
                if not (name.startswith("_")
                        and name.endswith("_CACHE")):
                    stragglers.append(f"{m.__name__}.{name}")
                else:
                    assert id(getattr(m, name)) in discovered
    assert not stragglers, stragglers
