"""Pipeline benchmark for the lambda system: speed-layer drains, batch
cron ticks, retrain and curation, timed end to end and by layer.

Usage, from the repository root:

    python3 perfbench/run.py --workload speed_trickle --seed 1 \
        --seconds 10 --trace 0

It drives the pipeline's public job functions from this one process on
local[<cores>], times each layer from outside around the calls into it,
checks every pass's outputs, and prints a report followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}.

  * --trace 0 reports the end-to-end metrics (setup_s, wall_s,
    events_per_s, microbatch_p50_ms, peak_rss_mb), with start and end
    loadavg and bench.py's host-speed probes beside them as context.
  * --trace 1 runs the same workload with a Spark event log and span
    tags on, reports the per-layer metrics, then repeats the timed
    section untraced in a fresh session to state the tracing overhead.
    On speed_trickle it adds one local[1] pass as the single-threaded
    baseline. Spans, self times and context go to
    .perfbench/traces/<workload>-seed<seed>.json.

Timed passes repeat until --seconds have passed (at least one). Inputs
come from --seed only (perfbench/fixtures.py); everything the run
writes stays under .perfbench/ in the working directory, and its work
dir is deleted at exit.

Session settings beyond session.get_spark's defaults:
  * spark.sql.shuffle.partitions = cores. At the default 32, every
    micro-batch of the two stateful queries commits 32 state-store
    partitions, which on 4 task slots makes one trickle trigger take
    ~6 s instead of ~1.4 s — too slow for a steady sample in a run.
  * spark.driver.memory = 2g, so peak_rss_mb does not scale with the
    host's RAM (the default heap is 60% of it), and a run stays small
    on a shared host.
So a change to session.get_spark's partition or heap defaults does not
show in any of this benchmark's metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
PACKAGE = "big_data_crypto_sentiment_spark"
DRIVER_MEMORY = "2g"
WORKLOAD_NAMES = ("speed_trickle", "batch_cycle")
# spans whose Spark jobs carry the span name (streaming queries are
# attributed by their query id instead)
TAGGED = {"batch_job.tick": "batch_job.tick",
          "model_registry.train_bundle": "train_bundle",
          "curate.run_curation": "run_curation"}


class Ctx:
    """Run state shared by the workload and the measurement code."""

    def __init__(self, args, root: str, work: str):
        self.seed = args.seed
        self.root = root
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.progress = None
        self.tracer = None


def start_session(ctx: Ctx, master: str, event_log: str | None) -> None:
    """(Re)start the Spark session, with a fresh progress listener."""
    from tracing import ProgressLog

    from big_data_crypto_sentiment_spark.session import get_spark
    tmp = os.path.join(ctx.work, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(ctx.cores),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    if ctx.spark is not None:
        # cached frames of the old session cannot be unpersisted later
        from big_data_crypto_sentiment_spark import queries
        queries.clear_session_caches()
        ctx.spark.stop()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = get_spark(f"perfbench-{ctx.seed}", master=master,
                              extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.progress = ProgressLog()
    ctx.spark.streams.addListener(ctx.progress)
    ctx.tracer.sc = ctx.spark.sparkContext if event_log else None


def stop_jvm(ctx: Ctx) -> None:
    """Stop the session and the JVM (and with it the Python workers),
    waiting until the JVM has exited."""
    from pyspark import SparkContext
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()       # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timed_section(ctx: Ctx, wl, seconds: float):
    """Closed loop of passes until `seconds` have passed; checks after."""
    from tracing import RssSampler
    passes, failed_ops = [], 0
    rss = RssSampler().start()
    deadline = time.time() + seconds
    try:
        while True:
            try:
                passes.append(wl.run_pass(len(passes)))
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                break
            if time.time() >= deadline:
                break
    finally:
        peak_mb = rss.stop()
    fails, attempted = [], failed_ops
    for p in passes:
        attempted += wl.ops_per_pass + wl.checks_per_pass
        fails += wl.check(p)
        p.extra["files"] = wl.output_files(p)
        shutil.rmtree(p.out_dir, ignore_errors=True)
    for f in fails:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    return passes, peak_mb, attempted, failed_ops + len(fails)


def end_to_end(ctx: Ctx, passes, peak_mb: float, setup_s: float) -> dict:
    trig = [r["durationMs"]["triggerExecution"]
            for p in passes for r in ctx.progress.reports(p.query_ids)]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(p.wall for p in passes), "s"),
        "events_per_s": (sum(p.events for p in passes)
                         / sum(p.event_wall for p in passes), "1/s"),
        "microbatch_p50_ms": (statistics.median(trig), "ms"),
        "peak_rss_mb": (peak_mb, "MB"),
    }, trig


def report_lines(ctx, wl, passes, e2e, trig, attempted, failed) -> list[str]:
    """Every end-to-end metric the workload has, with its unit."""
    lines = [f"perfbench {wl.name} seed={ctx.seed} local[{ctx.cores}] "
             f"passes={len(passes)}"]
    for k, (v, unit) in e2e.items():
        lines.append(f"  {k:<20} {v:12.4f} {unit}")
    lines.append(f"  {'microbatch_samples':<20} {len(trig):12d} count")
    if len(trig) >= 100:
        p90 = statistics.quantiles(trig, n=10)[-1]
        lines.append(f"  {'microbatch_p90_ms':<20} {p90:12.4f} ms")
    else:
        lines.append(f"  {'microbatch_p90_ms':<20} {'n/a':>12} "
                     f"(needs 100 samples)")
    ticks = ctx.tracer.durations_under("batch_job.tick", "pass")
    if ticks:
        lines.append(f"  {'tick_p50_ms':<20} "
                     f"{statistics.median(ticks) * 1e3:12.4f} ms "
                     f"(n={len(ticks)})")
    for name, key in (("model_registry.train_bundle", "train_s"),
                      ("curate.run_curation", "curate_s")):
        d = ctx.tracer.durations_under(name, "pass")
        if d:
            lines.append(f"  {key:<20} {statistics.median(d):12.4f} s")
    lines.append(f"  {'error_rate':<20} {failed / attempted:12.4f} "
                 f"({failed} of {attempted} attempted)")
    return lines


def run(ctx: Ctx, args) -> tuple[dict, list[str]]:
    import layers
    from workloads import WORKLOADS
    load_start = os.getloadavg()
    wl = WORKLOADS[args.workload](ctx)
    event_log = os.path.join(ctx.work, "eventlog") if args.trace else None
    if args.trace:
        ctx.tracer.tagged = frozenset(TAGGED)
    with ctx.tracer.span("setup") as rec:
        start_session(ctx, f"local[{ctx.cores}]", event_log)
        wl.setup()
    setup_s = rec["end"] - rec["start"]
    passes, peak_mb, attempted, failed = timed_section(ctx, wl, args.seconds)
    if not passes:
        raise RuntimeError("no pass completed")
    e2e, trig = end_to_end(ctx, passes, peak_mb, setup_s)
    lines = report_lines(ctx, wl, passes, e2e, trig, attempted, failed)
    if args.trace:
        lines[0] += " (traced: these figures include tracing overhead)"
    else:
        # host speed next to each run's figures, not a metric: bench.py's
        # fixed-size JVM and numpy probes, run after the timed section
        import bench
        probes = bench._calibration_probes(ctx.spark)
        lines.append(f"  context: loadavg start {load_start} "
                     f"end {os.getloadavg()} probes_s {probes}")
        return _result(e2e, attempted, failed), lines

    context = {"self_s": ctx.tracer.self_times("pass"),
               "setup_self_s": ctx.tracer.self_times("setup"),
               "pass_coverage": ctx.tracer.coverage("pass"),
               "traced_wall_s": e2e["wall_s"][0]}
    traced_progress = ctx.progress
    start_session(ctx, f"local[{ctx.cores}]", None)   # closes the log
    metrics = layers.per_layer(ctx, passes, traced_progress, event_log,
                               TAGGED)
    # the same timed section untraced, for the tracing overhead
    wl.warmup()
    more, _, n_att, n_failed = timed_section(ctx, wl, args.seconds)
    attempted, failed = attempted + n_att, failed + n_failed
    context["untraced_wall_s"] = statistics.median(p.wall for p in more)
    context["tracing_overhead_s"] = (context["traced_wall_s"]
                                     - context["untraced_wall_s"])
    import bench
    context["probes"] = bench._calibration_probes(ctx.spark)
    if wl.name == "speed_trickle":
        # single-threaded baseline of the same drain
        start_session(ctx, "local[1]", None)
        wl.warmup()
        more, _, n_att, n_failed = timed_section(ctx, wl, 0)
        attempted, failed = attempted + n_att, failed + n_failed
        context["local1_wall_s"] = more[0].wall
        context["local1_events_per_s"] = more[0].events / more[0].event_wall
    context["loadavg_start"] = load_start
    context["loadavg_end"] = os.getloadavg()
    lines += layers.trace_report(ctx, context)
    path = layers.write_trace(ctx, wl.name, metrics, context)
    lines.append(f"  trace written to {os.path.relpath(path, ctx.root)}")
    return _result(metrics, attempted, failed), lines


def _result(metrics: dict, attempted: int, failed: int) -> dict:
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found in {root}; run from the "
              f"repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the Python workers import the package: put the root on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, root)
    tempfile.tempdir = None

    from tracing import Tracer
    ctx = Ctx(args, root, work)
    ctx.tracer = Tracer(uuid.uuid4().hex[:12])
    try:
        result, lines = run(ctx, args)
    finally:
        stop_jvm(ctx)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
