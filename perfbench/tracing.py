"""The traced run: spans, layer counters, event-log folding, per-layer metrics.

Spans are recorded in memory from the benchmark's own files -- around
``build_session``, each query's construct and execute phases, and (through
the wrappers in ``layers.py``) the loader, staging, plan-memo and caching
calls inside construct. At the end the Spark event log is folded: every
job becomes a child span of the phase whose ``spark.jobGroup.id`` it
carries, or, for jobs of a streaming query's own thread, of the span open
when it was submitted; micro-batches reported to a
``StreamingQueryListener`` become children of their query's construct
span. Spans and metrics are written to ``perfbench/.work/``.

Counts and times are per warm pass: the median over the traced measured
passes. ``staging.keyed_staging_dir.builds`` and ``staging.bytes`` cover
the whole run (builds happen in the first pass), the ``session.*``
metrics cover set-up.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import sys
from collections import Counter
from contextlib import contextmanager
from datetime import datetime

import eventlog
import spans
from layers import Layers

PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "session.cold_setup_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_stages": "count",
    "planmemo.hits": "count",
    "planmemo.misses": "count",
    "planmemo.hit_ratio": "ratio",
    "tables.load_table.calls": "count",
    "tables.load_table_s": "s",
    "staging.read_staged.calls": "count",
    "staging.read_staged_s": "s",
    "staging.keyed_staging_dir.builds": "count",
    "staging.keyed_staging_dir.hits": "count",
    "staging.bytes": "B",
    "caching.persist_tracked.calls": "count",
    "caching.release_tracked_s": "s",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.input_bytes": "B",
    "exec.input_bytes_expected": "B",
    "exec.python_run_s": "s",
    "exec.python_start_s": "s",
    "exec.python_init_s": "s",
    "exec.python_sent_bytes": "B",
    "exec.python_returned_bytes": "B",
    "streaming.batches": "count",
    "streaming.addBatch_s": "s",
    "streaming.getBatch_s": "s",
    "streaming.walCommit_s": "s",
    "streaming.queryPlanning_s": "s",
    "streaming.commitOffsets_s": "s",
    "streaming.latestOffset_s": "s",
    "self.query_s": "s",
    "self.construct_s": "s",
    "self.execute_s": "s",
    "self.spark_job_s": "s",
    "self.microbatch_s": "s",
    "self.tables_s": "s",
    "self.staging_s": "s",
    "self.planmemo_s": "s",
    "self.caching_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.span_sum_error": "ratio",
}
STREAM_PHASES = ("addBatch", "getBatch", "walCommit", "queryPlanning",
                 "commitOffsets", "latestOffset")
SPAN_SUM_TOLERANCE = 0.05


class TraceRun:
    def __init__(self, run_dir: str, out_path: str) -> None:
        self.tracer = spans.Tracer()
        self.layers = Layers(self.tracer)
        self.log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(self.log_dir, exist_ok=True)
        self.out_path = out_path
        self.progress: list[dict] = []
        self.pass_counts: dict[int, Counter] = {}
        self._pass: int | None = None
        self._query: str | None = None
        self._before: Counter = Counter()
        self._sc = None

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        }

    def attach(self, spark) -> None:
        """Start listening to the session the passes will run on."""
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                progress.append({"start": start.timestamp(), "batch": p.batchId,
                                 "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())
        self._sc = spark.sparkContext

    @contextmanager
    def setup_span(self):
        """A ``build_session`` span; set-up runs before any pass, so it is
        recorded whatever the pass state."""
        enabled, self.tracer.enabled = self.tracer.enabled, True
        try:
            with self.tracer.span("build_session", "session") as sp:
                yield sp
        finally:
            self.tracer.enabled = enabled

    # -- pass and query boundaries -------------------------------------

    def begin_pass(self, index: int, traced: bool) -> None:
        self._pass = index
        self.tracer.enabled = traced
        self._before = Counter(self.layers.counts)

    def end_pass(self) -> None:
        if self.tracer.enabled:
            self.pass_counts[self._pass] = Counter(self.layers.counts) - self._before
        self.tracer.enabled = False

    @contextmanager
    def query(self, index: int, name: str):
        with self.tracer.span(name, "query", pass_index=index, query=name) as sp:
            self._query = name
            try:
                yield sp
            finally:
                if sp is not None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def phase(self, phase: str):
        if self.tracer.enabled:
            self._sc.setJobGroup(f"pb|{self._pass}|{self._query}|{phase}", phase)
        with self.tracer.span(phase, phase) as sp:
            yield sp

    # -- the end of the run ---------------------------------------------

    def finish(self, client) -> dict[str, float]:
        spark = client.spark
        rss_mb = _peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log
        log = eventlog.fold(self.log_dir, app_id)
        all_spans = self.tracer.spans
        roots = [s for s in all_spans if s.kind == "query"]
        lost = self._attach_external(log, roots)

        walls = {(p["index"], q): r["with_release_s"]
                 for p in client.passes for q, r in p["queries"].items()}
        kids = spans.children_of(all_spans)
        per_pass: dict[int, Counter] = {}
        worst, worst_at = 0.0, ""
        for root in roots:
            p = root.attrs["pass_index"]
            agg = per_pass.setdefault(p, Counter())
            st = spans.self_times(all_spans, root)
            # what the span tree fails to account for, against the query's
            # wall clock timed apart by the client: job and micro-batch time
            # clipped off at the edge of the span that hosts it, time of jobs
            # and micro-batches that found no host, and the gap between the
            # tree (whose self times sum to its root) and the wall clock
            wall = walls.get((p, root.attrs["query"]))
            if wall:
                missed = lost.get(root.sid, 0.0) + abs(sum(st.values()) - wall)
                root.attrs["missed_s"] = missed
                if missed / wall > worst:
                    worst, worst_at = missed / wall, f"{root.attrs['query']} in pass {p}"
            for sid, v in st.items():
                agg[f"self.{all_spans[sid].kind}_s"] += v
            _fold_query(agg, kids, root, log)

        warm = [p["index"] for p in client.measured() if p["traced"]]
        metrics: dict[str, float] = {}
        for name in PER_LAYER:
            # layer counters are kept under their metric names
            vals = [per_pass.get(p, Counter())[name] + self.pass_counts[p][name]
                    for p in warm]
            metrics[name] = statistics.median(vals) if vals else 0.0
        hits, misses = metrics["planmemo.hits"], metrics["planmemo.misses"]
        metrics["planmemo.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        run_counts = sum(self.pass_counts.values(), Counter())
        metrics["staging.keyed_staging_dir.builds"] = run_counts["staging.keyed_staging_dir.builds"]
        metrics["staging.bytes"] = self.layers.staged_bytes()
        metrics["session.build_s"] = statistics.median(client.build_s)
        metrics["session.cold_setup_s"] = client.setup_s[0]
        metrics["process.peak_rss_mb"] = rss_mb
        # mean traced minus mean untraced measured pass; the passes run
        # untraced, traced, traced, untraced, which cancels a linear trend
        measured = client.measured()
        metrics["trace.overhead_s"] = (
            statistics.mean(p["total"] for p in measured if p["traced"])
            - statistics.mean(p["total"] for p in measured if not p["traced"]))
        metrics["trace.span_sum_error"] = worst

        got, want = metrics["exec.input_bytes"], metrics["exec.input_bytes_expected"]
        if not (want and 0.5 <= got / want <= 2.0):
            # Spark's task input metric undercounts parquet reads; report it,
            # but do not trust it (see README.md)
            print(f"[perfbench] exec.input_bytes UNVALIDATED: Spark reports {got:.0f} B, "
                  f"the projected column chunks hold {want:.0f} B", file=sys.stderr)
        self._write(all_spans, metrics)
        seen = {**metrics, **run_counts}
        problems = [f"no {k}" for k in client.workload.layers if not seen.get(k)]
        if worst > SPAN_SUM_TOLERANCE:
            problems.append(f"the span tree misses {worst:.1%} of the wall time of {worst_at}")
        if problems:
            raise RuntimeError(f"traced run lost layers or time: {problems}")
        return metrics

    def _attach_external(self, log: eventlog.EventLog, roots: list) -> dict[int, float]:
        """Hang micro-batches, then Spark jobs, under the spans that were
        open when they started. Returns, per query root, the seconds of
        that time the tree cannot hold: the part of each job or batch
        outside its host span, and whole jobs and batches that started
        during a traced pass but inside no query (charged to the query
        that started last before them)."""
        lost: dict[int, float] = {}
        # hosts are the spans recorded in Python: concurrent jobs are
        # siblings, never each other's children
        recorded = list(self.tracer.spans)
        by_start = sorted(roots, key=lambda r: r.start)
        passes: dict[int, tuple[float, float]] = {}
        for r in roots:
            lo, hi = passes.get(r.attrs["pass_index"], (r.start, r.end))
            passes[r.attrs["pass_index"]] = (min(lo, r.start), max(hi, r.end))

        def root_of(sp) -> spans.Span:
            while sp.parent is not None:
                sp = self.tracer.spans[sp.parent]
            return sp

        def place(name: str, kind: str, start: float, end: float, host, **attrs) -> None:
            if host is not None:
                self.tracer.add(name, kind, start, end, host.sid, **attrs)
                outside = max(0.0, host.start - start) + max(0.0, end - host.end)
                r = root_of(host)
                lost[r.sid] = lost.get(r.sid, 0.0) + min(outside, end - start)
                return
            if not any(lo <= start <= hi for lo, hi in passes.values()):
                return  # set-up or an untraced pass
            before = [r for r in by_start if r.start <= start] or by_start[:1]
            lost[before[-1].sid] = lost.get(before[-1].sid, 0.0) + (end - start)

        phases = {}
        for sp in self.tracer.spans:
            if sp.kind in ("construct", "execute") and sp.parent is not None:
                root = self.tracer.spans[sp.parent]
                phases[f"pb|{root.attrs['pass_index']}|{root.attrs['query']}|{sp.kind}"] = sp

        def owner(t: float):
            for root in roots:
                if root.start <= t <= root.end:
                    return spans.deepest_containing(recorded, root, t)
            return None

        for b in self.progress:
            end = b["start"] + b["ms"].get("triggerExecution", 0) / 1e3
            place(f"batch {b['batch']}", "microbatch", b["start"], end, owner(b["start"]),
                  **{k: v / 1e3 for k, v in b["ms"].items()})
        for job in log.jobs.values():
            phase = phases.get(job.group)
            host = (spans.deepest_containing(recorded, phase, job.start)
                    if phase is not None else owner(job.start))
            place(f"job {job.job_id}", "spark_job", job.start, job.end or job.start, host,
                  job_id=job.job_id, stages=job.stages, sql_id=job.sql_id, **job.totals)
        return lost

    def _write(self, all_spans: list, metrics: dict) -> None:
        os.makedirs(os.path.dirname(self.out_path), exist_ok=True)
        with open(self.out_path, "w") as f:
            json.dump({
                "metrics": metrics,
                "pass_counts": {p: dict(c) for p, c in self.pass_counts.items()},
                "spans": [s.__dict__ for s in all_spans],
            }, f, default=str)


def _fold_query(agg: Counter, kids: dict, root: spans.Span, log: eventlog.EventLog) -> None:
    """Add one query's phase times, jobs, task totals, micro-batches and
    loader times to its pass's totals."""
    for ph in kids.get(root.sid, ()):
        if ph.kind not in ("construct", "execute"):
            continue
        todo = list(kids.get(ph.sid, ()))
        if ph.kind == "construct":
            agg["plans.construct_s"] += ph.duration
        else:
            agg["exec.execute_s"] += ph.duration
        sql_ids = set()
        while todo:
            sp = todo.pop()
            todo.extend(kids.get(sp.sid, ()))
            if sp.kind == "spark_job":
                if ph.kind == "construct":
                    agg["plans.construct_jobs"] += 1
                    agg["plans.construct_stages"] += sp.attrs["stages"]
                else:
                    agg["exec.jobs"] += 1
                    agg["exec.stages"] += sp.attrs["stages"]
                    for f in eventlog.TASK_FIELDS:
                        agg["exec." + f] += sp.attrs[f]
                    if sp.attrs["sql_id"] is not None:
                        sql_ids.add(sp.attrs["sql_id"])
            elif sp.kind == "microbatch":
                agg["streaming.batches"] += 1
                for k in STREAM_PHASES:
                    agg[f"streaming.{k}_s"] += sp.attrs.get(k, 0.0)
            elif sp.name in ("tables.load_table", "staging.read_staged"):
                agg[sp.name + "_s"] += sp.duration
        for sid in sql_ids:
            for path, cols in log.scans.get(sid, ()):
                if os.path.exists(path):
                    agg["exec.input_bytes_expected"] += eventlog.projected_chunk_bytes(path, cols)
    for sp in kids.get(root.sid, ()):
        if sp.name == "caching.release_tracked":
            agg["caching.release_tracked_s"] += sp.duration


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus its JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return own + jvm
