"""Measurement plumbing for the pipeline benchmark, all of it outside the
program under test:

  * Tracer       — spans (name, start, end, parent, run id) recorded in
                   memory around every call into the pipeline, with each
                   layer's self time (duration minus the part of it that
                   child spans cover).
  * ProgressLog  — a StreamingQueryListener keeping every micro-batch
                   progress report. `recentProgress` keeps only the last
                   100 reports, and `run_batch` never returns its query,
                   so a listener is the one complete source.
  * RssSampler   — a thread summing resident memory (PSS) over this
                   process and all its descendants (the driver, the
                   JVM, the Python workers).
  * spark_totals — per-span Spark engine numbers read from an
                   uncompressed event log: jobs, tasks, executor run/CPU,
                   GC, shuffle write, spill and the driver gap (span wall
                   minus the union of its job intervals).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# local property carried by every job a traced span submits (streaming
# query threads inherit it from the thread that starts them)
SPAN_PROPERTY = "perfbench.span"
RUN_ID_PROPERTY = "spark.jobGroup.id"   # streaming sets it to the run id
RSS_PERIOD_S = 0.25


def union_len(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Span recorder. `span()` always times the call (the untraced run
    needs the same timings); while `sc` is set, the jobs of spans named
    in `tagged` carry the span name in SPAN_PROPERTY."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None          # set to tag jobs of tagged spans
        self.tagged: frozenset[str] = frozenset()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "id": len(self.spans)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        tag = self.sc is not None and name in self.tagged
        if tag:
            self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield rec
        finally:
            if tag:
                self.sc.setLocalProperty(SPAN_PROPERTY, None)
            rec["end"] = time.time()
            self._stack.pop()

    def under(self, name: str, ancestor: str) -> list[dict]:
        """Finished `name` spans with an `ancestor` span above them."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            a = s["parent"]
            while a is not None and self.spans[a]["name"] != ancestor:
                a = self.spans[a]["parent"]
            if a is not None:
                out.append(s)
        return out

    def durations_under(self, name: str, ancestor: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.under(name, ancestor)]

    def self_times(self, root: str) -> dict[str, float]:
        """Seconds per span name not covered by that span's children,
        over the `root` spans and everything under them."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        inside = {s["id"] for s in self.spans if s["name"] == root}
        for s in self.spans:         # parents precede their children
            if s["parent"] in inside:
                inside.add(s["id"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["id"] not in inside:
                continue
            covered = union_len(kids.get(s["id"], []))
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + (s["end"] - s["start"]) - covered)
        return out

    def coverage(self, name: str) -> float:
        """Share of the `name` spans' wall covered by their children."""
        total = cov = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            total += s["end"] - s["start"]
            cov += union_len([(c["start"], c["end"]) for c in self.spans
                              if c["parent"] == s["id"]])
        return cov / total if total else 0.0


class ProgressLog(StreamingQueryListener):
    """Every progress report, plus start/termination wall times by run
    id (a query restarted on the same checkpoint keeps its id but gets a
    new run id). Callbacks arrive on py4j threads, hence the lock."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: dict[str, float] = {}
        self.terminated: dict[str, tuple[float, str | None]] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.started[str(event.runId)] = time.time()

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated[str(event.runId)] = (time.time(),
                                                 event.exception)

    def wait_terminated(self, ids, timeout: float = 60.0) -> None:
        """Listener events are asynchronous: wait until each query's
        termination (posted after its last progress) has arrived."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if all(i in self.terminated for i in ids):
                    return
            time.sleep(0.02)
        raise TimeoutError(f"no termination event for {sorted(ids)}")

    def started_since(self, t0: float) -> list[str]:
        with self._lock:
            return [i for i, t in self.started.items() if t >= t0]

    def reports(self, ids) -> list[dict]:
        ids = set(ids)
        with self._lock:
            return [p for p in self.progress if p["runId"] in ids]


def _tree_pss_kb(root: int) -> int:
    """Summed PSS of `root` and its descendants. PSS splits each shared
    page among the processes mapping it, so forked Python workers do not
    count the pages they share with their parent twice (RSS would)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total


class RssSampler:
    """Peak of the summed resident memory (PSS) of this process tree,
    sampled every RSS_PERIOD_S seconds between start() and stop()."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))
            self._stop.wait(RSS_PERIOD_S)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))
        return self.peak_kb / 1024.0


TASK_FIELDS = ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
               "shuffle_write_bytes", "spill_bytes")
SPARK_FIELDS = ("jobs",) + TASK_FIELDS + ("driver_gap_ms",)


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single, finished) application logged in log_dir:
    [{id, start, end, props, tasks, executor_run_ms, ...}] with times in
    epoch seconds."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = {"id": ev["Job ID"], "start": ev["Submission Time"] / 1e3,
                     "end": None, "props": ev.get("Properties") or {},
                     **{k: 0 for k in TASK_FIELDS}}
                jobs[j["id"]] = j
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, j["id"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j["tasks"] += 1
                j["executor_run_ms"] += m.get("Executor Run Time", 0)
                j["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                j["gc_ms"] += m.get("JVM GC Time", 0)
                shuffle = m.get("Shuffle Write Metrics") or {}
                j["shuffle_write_bytes"] += shuffle.get(
                    "Shuffle Bytes Written", 0)
                j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def spark_totals(jobs: list[dict], span_of, walls: dict[str, list]) -> dict:
    """Per span name, engine totals divided by the span's call count.

    span_of(job) → span name or None; walls[name] = [(start, end), ...]
    one interval per call of the span. Only jobs overlapping one of the
    intervals count, so a warm-up call of the same span is left out."""
    by_span: dict[str, list[dict]] = {}
    for j in jobs:
        name = span_of(j)
        if name is not None:
            by_span.setdefault(name, []).append(j)
    out = {}
    for name, intervals in walls.items():
        calls = max(len(intervals), 1)
        js = [j for j in by_span.get(name, [])
              if any(j["end"] > s and j["start"] < e for s, e in intervals)]
        tot = {k: sum(j[k] for j in js) for k in TASK_FIELDS}
        tot["jobs"] = len(js)
        wall = sum(e - s for s, e in intervals)
        busy = union_len([(max(j["start"], s), min(j["end"], e))
                          for j in js for s, e in intervals
                          if j["end"] > s and j["start"] < e])
        tot["driver_gap_ms"] = (wall - busy) * 1e3
        out[name] = {k: v / calls for k, v in tot.items()}
    return out
