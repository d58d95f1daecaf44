"""Per-layer metrics of a traced run, and the trace file it writes.

Each metric names the layer it comes from and, in the comment beside
its group, the end-to-end metric it should move. A layer the workload
does not call reports 0 (e.g. batch_job.* on speed_trickle).
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import (
    RUN_ID_PROPERTY,
    SPAN_PROPERTY,
    SPARK_FIELDS,
    read_event_log,
    spark_totals,
)
from workloads import QUERY_NAMES, STATEFUL

# micro-batch durationMs phases → microbatch_p50_ms, events_per_s
# (speed_trickle)
PHASES = (("trigger_ms", "triggerExecution"),
          ("query_planning_ms", "queryPlanning"),
          ("wal_commit_ms", "walCommit"),
          ("commit_offsets_ms", "commitOffsets"),
          ("latest_offset_ms", "latestOffset"))
ROW_WORK = ("tweet_sentiment", "price_forecasts")      # add_batch_ms
STATE = ("state_rows", "state_mem_bytes", "state_commit_ms",
         "state_partitions")
SPARK_SPANS = QUERY_NAMES + ("batch_job.tick", "train_bundle",
                             "run_curation")
SPARK_UNITS = {"jobs": "count", "tasks": "count", "shuffle_write_bytes":
               "bytes", "spill_bytes": "bytes"}


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = []
    for q in QUERY_NAMES:
        out += [(f"stream.{q}.batches", "count"),
                (f"stream.{q}.rows_in", "count")]
        out += [(f"stream.{q}.{k}", "ms") for k, _ in PHASES]
        if q in ROW_WORK:
            out.append((f"stream.{q}.add_batch_ms", "ms"))
        if q in STATEFUL:
            out += [(f"stream.{q}.{k}", "ms" if k.endswith("_ms") else
                     "bytes" if k.endswith("_bytes") else "count")
                    for k in STATE]
    out += [("speed_layer.start_ms", "ms")]
    out += [(f"speed_layer.await_{q}_ms", "ms") for q in QUERY_NAMES]
    out += [("batch_job.tick_ms", "ms"), ("batch_job.add_batch_ms", "ms"),
            ("batch_job.latest_offset_ms", "ms"),
            ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes"),
            ("model_registry.train_bundle_ms", "ms"),
            ("model_registry.save_bundle_ms", "ms"),
            ("curate.run_curation_ms", "ms"),
            ("session.get_spark_ms", "ms"), ("replay.write_chunks_ms", "ms")]
    for s in SPARK_SPANS:
        out += [(f"spark.{s}.{k}", SPARK_UNITS.get(k, "ms"))
                for k in SPARK_FIELDS]
    return out


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _spans(tr, name: str) -> list[dict]:
    """The calls of `name` that count: those inside timed passes, else
    (for layers only called in set-up) every call outside warm-ups."""
    inside = tr.under(name, "pass")
    if inside:
        return inside
    warm = {id(s) for s in tr.under(name, "warmup")}
    return [s for s in tr.spans
            if s["name"] == name and s["end"] is not None
            and id(s) not in warm]


def per_layer(ctx, passes, progress, event_log: str, tagged: dict) -> dict:
    tr, n = ctx.tracer, len(passes)
    m: dict[str, float] = {}
    speed = {qid: name for p in passes for qid, name in p.query_ids.items()
             if name in QUERY_NAMES}
    reports = progress.reports(p_id for p in passes for p_id in p.query_ids)

    # streaming: per query, per micro-batch
    for q in QUERY_NAMES:
        reps = [r for r in reports if speed.get(r["runId"]) == q]
        m[f"stream.{q}.batches"] = len(reps) / n
        m[f"stream.{q}.rows_in"] = sum(r["numInputRows"] for r in reps) / n
        for key, phase in PHASES + (("add_batch_ms", "addBatch"),):
            m[f"stream.{q}.{key}"] = _median(
                r["durationMs"].get(phase, 0) for r in reps)
        # state → microbatch_p50_ms / events_per_s (speed_trickle)
        ops = [r["stateOperators"] for r in reps]
        last = [max((r for r in reps if r["runId"] == qid),
                    key=lambda r: r["batchId"], default={})
                .get("stateOperators", [])
                for qid, name in speed.items() if name == q]
        m[f"stream.{q}.state_rows"] = sum(
            o["numRowsTotal"] for s in last for o in s) / n
        m[f"stream.{q}.state_mem_bytes"] = sum(
            o["memoryUsedBytes"] for s in last for o in s) / n
        m[f"stream.{q}.state_partitions"] = sum(
            o.get("numStateStoreInstances", 0) for s in last for o in s) / n
        m[f"stream.{q}.state_commit_ms"] = _median(
            sum(o["commitTimeMs"] for o in s) for s in ops)

    # jobs.speed_layer → events_per_s (speed_trickle); the slowest
    # query's await sets the drain time
    m["speed_layer.start_ms"] = _median(
        (s["end"] - s["start"]) * 1e3 for s in _spans(tr, "speed_layer.start"))
    ends = {qid: t for qid, (t, _) in progress.terminated.items()}
    for q in QUERY_NAMES:
        m[f"speed_layer.await_{q}_ms"] = _median(
            (ends[qid] - p.start) * 1e3 for p in passes
            for qid, name in p.query_ids.items() if name == q)

    # jobs.batch_job + sinks → tick_p50_ms (batch_cycle)
    ticks = _spans(tr, "batch_job.tick")
    batch = [r for r in reports if r["runId"] not in speed]
    m["batch_job.tick_ms"] = _median((s["end"] - s["start"]) * 1e3
                                     for s in ticks)
    m["batch_job.add_batch_ms"] = _median(r["durationMs"].get("addBatch", 0)
                                          for r in batch)
    m["batch_job.latest_offset_ms"] = _median(
        r["durationMs"].get("latestOffset", 0) for r in batch)
    m["sinks.files_written"] = sum(p.extra["files"][0] for p in passes) / n
    m["sinks.bytes_written"] = sum(p.extra["files"][1] for p in passes) / n

    # model_registry → train_s, curate → curate_s, session/replay →
    # setup_s
    for key, span in (("model_registry.train_bundle_ms",
                       "model_registry.train_bundle"),
                      ("model_registry.save_bundle_ms",
                       "model_registry.save_bundle"),
                      ("curate.run_curation_ms", "curate.run_curation"),
                      ("replay.write_chunks_ms", "replay.write_chunks")):
        m[key] = _median((s["end"] - s["start"]) * 1e3
                         for s in _spans(tr, span))
    first = next(s for s in tr.spans if s["name"] == "session.get_spark")
    m["session.get_spark_ms"] = (first["end"] - first["start"]) * 1e3

    # Spark engine, per call of each of the eight spans
    walls = {q: [(p.start, ends[qid]) for p in passes
                 for qid, name in p.query_ids.items() if name == q]
             for q in QUERY_NAMES}
    for span, short in tagged.items():
        walls[short] = [(s["start"], s["end"]) for s in _spans(tr, span)]

    def span_of(job):
        qid = job["props"].get(RUN_ID_PROPERTY)
        if qid in speed:
            return speed[qid]
        return tagged.get(job["props"].get(SPAN_PROPERTY))

    totals = spark_totals(read_event_log(event_log), span_of, walls)
    for s in SPARK_SPANS:
        for k in SPARK_FIELDS:
            m[f"spark.{s}.{k}"] = totals.get(s, {}).get(k, 0.0)

    units = dict(names())
    return {k: (float(m[k]), units[k]) for k in units}


def trace_report(ctx, context: dict) -> list[str]:
    lines = []
    for key, what in (("self_s", "timed passes"), ("setup_self_s", "set-up")):
        lines.append(f"  trace: self time per layer (s), traced {what}")
        for name, sec in sorted(context[key].items(), key=lambda kv: -kv[1]):
            lines.append(f"    {name:<32} {sec:10.3f}")
    lines.append(f"  trace: pass wall covered by top-level spans "
                 f"{context['pass_coverage']:.4f}")
    lines.append(f"  trace: wall_s traced {context['traced_wall_s']:.4f} s, "
                 f"untraced {context['untraced_wall_s']:.4f} s, overhead "
                 f"{context['tracing_overhead_s']:.4f} s")
    if "local1_wall_s" in context:
        lines.append(f"  baseline local[1]: wall_s "
                     f"{context['local1_wall_s']:.4f} s, events_per_s "
                     f"{context['local1_events_per_s']:.4f} 1/s")
    lines.append(f"  context: probes {context['probes']} loadavg start "
                 f"{context['loadavg_start']} end {context['loadavg_end']}")
    return lines


def write_trace(ctx, workload: str, metrics: dict, context: dict) -> str:
    d = os.path.join(ctx.root, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{ctx.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": ctx.seed,
                   "run": ctx.tracer.run_id, "context": context,
                   "metrics": {k: v for k, (v, _) in metrics.items()},
                   "spans": ctx.tracer.spans}, f, indent=1)
    return path
