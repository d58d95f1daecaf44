"""JSONL document sinks: replay idempotence and the document format.

Both sinks (`sinks.bulk_jsonl` and the streaming `jsonl_partition_sink`)
write through `sinks.write_jsonl`; the tests drive them through their
own entry points."""

import glob
import json
import os
import random
import struct
import subprocess
import sys
from datetime import datetime, timezone
from decimal import Decimal

from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.sinks import bulk_jsonl
from big_data_crypto_sentiment_spark.streaming.sinks import jsonl_partition_sink

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lines(pattern):
    return [line for p in glob.glob(pattern) for line in open(p)]


def _frame(spark):
    return spark.range(600).select(F.col("id"), (F.col("id") * 3).alias("v"))


def test_bulk_jsonl_rewrite_same_prefix_leaves_no_stale_files(spark, tmp_path):
    df = _frame(spark)
    out = str(tmp_path / "docs")
    bulk_jsonl(df.repartition(3), out, prefix="b0-")
    bulk_jsonl(df.repartition(1), out, prefix="b0-")
    lines = _lines(f"{out}/b0-*.jsonl")
    assert len(lines) == df.count()
    assert sorted(json.loads(x)["id"] for x in lines) == list(range(600))
    assert not [d for d in os.listdir(out) if d.startswith("_")]


def test_bulk_jsonl_other_prefixes_survive_a_rewrite(spark, tmp_path):
    df = _frame(spark)
    out = str(tmp_path / "docs")
    bulk_jsonl(df.repartition(2), out, prefix="b1-")
    bulk_jsonl(df.repartition(3), out, prefix="b11-")
    bulk_jsonl(df.repartition(1), out, prefix="b1-")
    assert len(_lines(f"{out}/b1-*.jsonl")) == df.count()
    assert len(_lines(f"{out}/b11-*.jsonl")) == df.count()


def test_streaming_sink_replayed_batch_leaves_no_stale_files(spark, tmp_path):
    df = _frame(spark)
    out = str(tmp_path / "docs")
    write_batch = jsonl_partition_sink(out)
    write_batch(df.repartition(3), 0)
    write_batch(df.repartition(1), 0)
    write_batch(df.repartition(2), 1)
    assert len(_lines(f"{out}/batch0-*.jsonl")) == df.count()
    assert len(_lines(f"{out}/batch1-*.jsonl")) == df.count()


_FORMAT_WRITER = """
import sys
from datetime import datetime, timezone
from decimal import Decimal

from pyspark.sql import SparkSession

from big_data_crypto_sentiment_spark.sinks import bulk_jsonl
from big_data_crypto_sentiment_spark.streaming.sinks import jsonl_partition_sink

doubles = [float.fromhex(h) for h in sys.argv[2].split(",")]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
rows = [(i, datetime(2024, 1, 1, tzinfo=timezone.utc), None,
         Decimal("12345.678901"), x) for i, x in enumerate(doubles)]
rows[1] = (1, datetime(2024, 6, 30, 23, 59, 59, 123456,
                       tzinfo=timezone.utc), "t", Decimal("-0.000001"),
           doubles[1])
df = spark.createDataFrame(
    rows, "id long, event_time timestamp, text string,"
          " amount decimal(18,6), price double").repartition(3)
bulk_jsonl(df, sys.argv[1] + "/bulk")
jsonl_partition_sink(sys.argv[1] + "/stream")(df, 0)
spark.stop()
"""


def _doubles(n=2000, seed=3):
    rnd = random.Random(seed)
    fixed = [0.0, -0.0, 0.1, 1 / 3, 2e23, 5e-324, 2.2250738585072014e-308,
             sys.float_info.max, -sys.float_info.max, 1e16, 123456789.125,
             9007199254740993.0, 1e-7, 1e21, 1e22]
    rand = []
    while len(rand) < n:
        x = struct.unpack("<d", struct.pack("<Q", rnd.getrandbits(64)))[0]
        if x == x and abs(x) != float("inf"):
            rand.append(x)
    return fixed + rand


def _instant(s):
    """A naive document timestamp read as UTC."""
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)


def test_jsonl_document_format_under_non_utc_workers(tmp_path):
    """Python workers and the JVM run under America/New_York; the
    session pins UTC. Timestamps must still be the UTC instant, nulls
    present, doubles exact and decimals JSON numbers."""
    doubles = _doubles()
    env = dict(os.environ, TZ="America/New_York",
               PYTHONPATH=os.pathsep.join(
                   [REPO, os.environ.get("PYTHONPATH", "")]))
    subprocess.run([sys.executable, "-c", _FORMAT_WRITER, str(tmp_path),
                    ",".join(x.hex() for x in doubles)],
                   env=env, cwd=REPO, check=True, timeout=600)

    for sink, pattern in (("bulk", "part-*.jsonl"),
                          ("stream", "batch0-part-*.jsonl")):
        docs = {}
        for line in _lines(str(tmp_path / sink / pattern)):
            doc = json.loads(line)
            doc["amount_exact"] = json.loads(
                line, parse_float=Decimal)["amount"]
            docs[doc["id"]] = doc
        assert sorted(docs) == list(range(len(doubles))), sink
        assert _instant(docs[0]["event_time"]) == datetime(
            2024, 1, 1, tzinfo=timezone.utc), sink
        assert _instant(docs[1]["event_time"]) == datetime(
            2024, 6, 30, 23, 59, 59, 123456, tzinfo=timezone.utc), sink
        # null fields are written, not dropped
        assert "text" in docs[0] and docs[0]["text"] is None, sink
        assert docs[1]["text"] == "t", sink
        # decimals are JSON numbers with their exact value
        assert isinstance(docs[0]["amount"], float), sink
        assert docs[0]["amount_exact"] == Decimal("12345.678901"), sink
        assert docs[1]["amount_exact"] == Decimal("-0.000001"), sink
        # doubles round-trip bit for bit (sign of zero included)
        bad = [(i, x, docs[i]["price"]) for i, x in enumerate(doubles)
               if struct.pack("<d", x) != struct.pack("<d", docs[i]["price"])]
        assert not bad, (sink, bad[:5])
