"""End-to-end job tests: the three reference entry points composed and
run on real fixture data — batch job incrementality across two runs,
the five-query speed layer, and the trainer artifact."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.jobs.batch_job import run_batch
from big_data_crypto_sentiment_spark.jobs.speed_layer import start_speed_layer
from big_data_crypto_sentiment_spark.jobs.train import main as train_main
from big_data_crypto_sentiment_spark.queries._util import table

SF_DIR = "/root/testdata/sf0.001"


def _count_jsonl(d):
    return sum(1 for p in glob.glob(f"{d}/*.jsonl") for _ in open(p))


def test_batch_job_incremental_two_runs(spark, tmp_path):
    """Run 1 processes the first drop; run 2 sees ONLY the new file —
    the reference's processed-state semantics via checkpoint."""
    ev = table(spark, SF_DIR, "events")
    in_dir = str(tmp_path / "incoming")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(in_dir)

    out1 = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    run_batch(spark, in_dir, out1, ck, window="30 minutes")
    n_tweets_1 = _count_jsonl(os.path.join(out1, "raw_batch_tweets"))
    assert n_tweets_1 == first.filter(F.col("props").isNotNull()).count()

    # second drop arrives; rerun with the same checkpoint
    second.coalesce(1).write.mode("append").parquet(in_dir)
    run_batch(spark, in_dir, out1, ck, window="30 minutes")
    n_tweets_2 = _count_jsonl(os.path.join(out1, "raw_batch_tweets"))
    assert (n_tweets_2 - n_tweets_1
            == second.filter(F.col("props").isNotNull()).count())
    # joined metrics landed as date-partitioned parquet
    joined = spark.read.parquet(os.path.join(out1, "batch_prices_with_tweets"))
    assert joined.count() > 0
    assert "date" in joined.columns


def _speed_inputs(spark, tmp_path):
    ev = table(spark, SF_DIR, "events")
    t_dir, p_dir = str(tmp_path / "t"), str(tmp_path / "p")
    (ev.filter(F.col("props").isNotNull())
       .select(F.col("ts").alias("event_time"),
               F.col("event_type").alias("symbol"),
               F.col("props").alias("text"))
       .coalesce(1).write.parquet(t_dir))
    (ev.filter(F.col("value").isNotNull())
       .select(F.col("ts").alias("event_time"),
               F.col("event_type").alias("symbol"),
               F.col("value").alias("price"))
       .coalesce(1).write.parquet(p_dir))
    return t_dir, p_dir


def test_speed_layer_five_sinks(spark, tmp_path):
    t_dir, p_dir = _speed_inputs(spark, tmp_path)
    out = str(tmp_path / "out")
    queries = start_speed_layer(spark, t_dir, p_dir, out,
                                window="30 minutes")
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    n_tweets = spark.read.parquet(t_dir).count()
    n_prices = spark.read.parquet(p_dir).count()
    assert spark.read.parquet(os.path.join(out, "raw_tweets")).count() == n_tweets
    assert spark.read.parquet(os.path.join(out, "raw_prices")).count() == n_prices
    assert _count_jsonl(os.path.join(out, "tweet_sentiment")) == n_tweets
    assert _count_jsonl(os.path.join(out, "price_forecasts")) == n_prices
    # windowed join emitted at least the watermark-closed windows
    joined = spark.read.parquet(os.path.join(out, "prices_with_tweets"))
    assert joined.count() > 0
    # sentiment sink rows carry the enrichment column
    with open(glob.glob(f"{out}/tweet_sentiment/*.jsonl")[0]) as f:
        assert "sentiment_score" in json.loads(next(f))


# physical operators that hand rows to a Python worker
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython",
                     "FlatMapGroupsInPandasWithState", "MapInPandas")


def test_speed_layer_runs_no_python_worker(spark, tmp_path, monkeypatch):
    """Every micro-batch of the five speed-layer queries — and the
    forecast sink's per-batch frame, which runs inside foreachBatch —
    executes without a Python-evaluation node."""
    from big_data_crypto_sentiment_spark.sinks import write_jsonl
    from big_data_crypto_sentiment_spark.streaming import stateful
    t_dir, p_dir = _speed_inputs(spark, tmp_path)
    written = []

    def spy(df, *args, **kwargs):
        write_jsonl(df, *args, **kwargs)
        written.append(df)

    monkeypatch.setattr(stateful, "write_jsonl", spy, raising=False)
    queries = start_speed_layer(spark, t_dir, p_dir, str(tmp_path / "out"),
                                window="30 minutes")
    try:
        for q in queries:
            q.processAllAvailable()
        plans = [q._jsq.explainInternal(False) for q in queries]
    finally:
        for q in queries:
            q.stop()
    assert all("== Physical Plan ==" in p for p in plans)
    found = {node for p in plans for node in PYTHON_EVAL_NODES if node in p}
    assert not found, found
    assert written, "the forecast sink wrote no batch"
    for df in written:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan
        assert not [node for node in PYTHON_EVAL_NODES if node in plan], plan


def test_train_job_writes_bundle(spark, tmp_path, capsys):
    out = str(tmp_path / "models" / "ar1.json")
    rc = train_main(["--sf-dir", "/root/testdata/sf0.01", "--out", out])
    assert rc == 0
    bundle = json.load(open(out))
    assert bundle["models"]
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["symbols"] == sorted(bundle["models"])


def test_dim_build_lifecycle(spark, tmp_path):
    """Dimension job end-to-end on fixture data: seed build + persist,
    incremental refresh equals a from-scratch rebuild, point-in-time
    enrichment covers every fact, and the is_current partition prunes
    to one open interval per user."""
    from big_data_crypto_sentiment_spark.jobs.dim_build import (
        build_dimension,
        enrich_facts,
        read_current,
        refresh_dimension,
        write_dimension,
    )
    events = table(spark, SF_DIR, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    seed = str(tmp_path / "dim_v1")
    write_dimension(build_dimension(events.filter(F.col("ts") < cut)), seed)
    merged = refresh_dimension(spark, seed,
                               events.filter(F.col("ts") >= cut),
                               str(tmp_path / "dim_v2"))
    full = build_dimension(events)
    as_set = lambda df: {  # noqa: E731
        (r.user_id, r.version, r.state, r.valid_from, r.valid_to)
        for r in df.collect()}
    assert as_set(merged) == as_set(full)
    # hot partition: exactly one open interval per user
    cur = read_current(spark, str(tmp_path / "dim_v2"))
    n_users = cur.select("user_id").distinct().count()
    assert cur.count() == n_users > 0
    # enrichment: one output row per fact event
    n_facts = events.filter(F.col("event_type") == "error")\
                    .filter(F.col("user_id").isNotNull()
                            & F.col("ts").isNotNull()).count()
    enriched = enrich_facts(events, merged)
    assert enriched.count() == n_facts
    assert enriched.filter(F.col("state").isNotNull()).count() > 0


def test_streaming_dim_maintenance_converges_to_batch_rebuild(spark, tmp_path):
    """CDC-style streaming SCD2 upkeep: seed a dimension, stream two
    append-only event drops through start_dim_maintenance, and assert
    the published `current` snapshot equals a from-scratch batch
    rebuild over everything."""
    from big_data_crypto_sentiment_spark.jobs.dim_build import (
        build_dimension,
        start_dim_maintenance,
        write_dimension,
    )
    events = table(spark, SF_DIR, "events").filter(F.col("ts").isNotNull())
    c1 = F.lit("2024-01-12").cast("timestamp")
    c2 = F.lit("2024-01-21").cast("timestamp")
    dim_dir = str(tmp_path / "dim")
    write_dimension(build_dimension(events.filter(F.col("ts") < c1)),
                    f"{dim_dir}/current")
    src = str(tmp_path / "src")
    events.filter((F.col("ts") >= c1) & (F.col("ts") < c2)).coalesce(1) \
          .write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_dim_maintenance(spark, stream, dim_dir,
                              str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        events.filter(F.col("ts") >= c2).coalesce(1) \
              .write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(f"{dim_dir}/current")
    want = build_dimension(events)
    key = lambda r: (r.user_id, r.version)  # noqa: E731
    as_map = lambda df: {key(r): (r.state, r.valid_from, r.valid_to,  # noqa: E731
                                  r.is_current) for r in df.collect()}
    assert as_map(got) == as_map(want)


def test_dim_swap_crash_recovery(spark, tmp_path):
    """Both crash windows of the snapshot swap heal: (a) crash between
    the two renames → no `current` but `_old_<b>` intact, recovery
    restores it; (b) crash after publish before cleanup → `current` new
    plus stale `_old_<b>`, recovery keeps `current` and prunes the
    stale dir so the next swap's rename isn't blocked."""
    import os
    import shutil

    from big_data_crypto_sentiment_spark.jobs.dim_build import (
        build_dimension,
        recover_current,
        write_dimension,
    )
    events = table(spark, SF_DIR, "events").filter(F.col("ts").isNotNull())
    dim_dir = str(tmp_path / "dim")
    cur = f"{dim_dir}/current"
    write_dimension(build_dimension(events), cur)
    want = sorted(map(tuple, spark.read.parquet(cur).collect()))
    # (a) mid-swap: old renamed aside, new not yet published
    os.rename(cur, f"{dim_dir}/_old_7")
    recover_current(dim_dir)
    assert os.path.isdir(cur) and not os.path.isdir(f"{dim_dir}/_old_7")
    assert sorted(map(tuple, spark.read.parquet(cur).collect())) == want
    # (b) post-publish: current exists, stale _old left behind
    shutil.copytree(cur, f"{dim_dir}/_old_8")
    recover_current(dim_dir)
    assert os.path.isdir(cur) and not os.path.isdir(f"{dim_dir}/_old_8")
    assert sorted(map(tuple, spark.read.parquet(cur).collect())) == want


def test_export_training_sharded_shuffle(spark, tmp_path):
    """Last-mile export: curate, then export the train split — every
    kept train doc appears exactly once, each shard file is ordered by
    position, and a re-run reproduces identical shard contents."""
    import json as _json

    from big_data_crypto_sentiment_spark.jobs.curate import run_curation
    from big_data_crypto_sentiment_spark.jobs.export_training import (
        export_training,
    )
    curated = str(tmp_path / "curated")
    run_curation(spark, SF_DIR, curated)
    want = (spark.read.parquet(curated)
                 .filter(F.col("split") == "train").count())
    out1 = str(tmp_path / "shards1")
    n = export_training(spark, SF_DIR, curated, out1, n_shards=4)
    assert n == want > 0

    def shard_contents(out):
        got = {}
        for p in sorted(glob.glob(f"{out}/shard=*/*.json")):
            shard = p.split("shard=")[1].split("/")[0]
            rows = [_json.loads(line) for line in open(p)]
            got.setdefault(shard, []).extend(rows)
        return got

    got = shard_contents(out1)
    all_docs = [r["doc_id"] for rows in got.values() for r in rows]
    assert len(all_docs) == len(set(all_docs)) == want
    for shard, rows in got.items():
        assert [r["position"] for r in rows] == \
            sorted(r["position"] for r in rows)
    # reproducible
    out2 = str(tmp_path / "shards2")
    export_training(spark, SF_DIR, curated, out2, n_shards=4)
    assert shard_contents(out2) == got


def test_export_packed_fixed_length_reproducible(spark, tmp_path):
    """Tensor-ready export: every emitted sequence is exactly seq_len
    ids inside the vocab, token accounting balances (emitted + counted
    tail drop == total corpus tokens), and a re-run is value-identical
    — the byte-reproducibility contract extended through tokenize and
    pack."""
    from big_data_crypto_sentiment_spark.jobs.curate import run_curation
    from big_data_crypto_sentiment_spark.jobs.export_training import (
        export_packed,
    )
    curated = str(tmp_path / "curated")
    run_curation(spark, SF_DIR, curated)
    out1 = str(tmp_path / "packed1")
    stats = export_packed(spark, SF_DIR, curated, out1,
                          seq_len=64, n_shards=2)
    assert stats["sequences"] > 0
    assert stats["tokens"] == (stats["sequences"] * 64
                               + stats["dropped_tail_tokens"])
    assert 0 <= stats["dropped_tail_tokens"] < 2 * 64  # < seq_len/shard
    rows = spark.read.parquet(out1).collect()
    assert all(len(r.input_ids) == 64 for r in rows)
    assert all(0 <= t < stats["vocab_size"]
               for r in rows for t in r.input_ids)
    assert all(r.n_docs >= 1 for r in rows)

    out2 = str(tmp_path / "packed2")
    export_packed(spark, SF_DIR, curated, out2, seq_len=64, n_shards=2)
    a = sorted((r.shard, r.seq, tuple(r.input_ids))
               for r in spark.read.parquet(out1).collect())
    b = sorted((r.shard, r.seq, tuple(r.input_ids))
               for r in spark.read.parquet(out2).collect())
    assert a == b
