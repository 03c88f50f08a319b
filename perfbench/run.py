#!/usr/bin/env python3
"""Benchmark of the query registry, driven from outside the package.

    python3 perfbench/run.py --workload relational_x10 --seed 1 --seconds 20 --trace 0

Run from the repository root. One client process runs a closed loop on
``local[<half the cores>]``: for each query of the workload it calls
``queries()[name](spark, data_dir)`` (construct), then
``df.write.format("noop")`` (execute), then ``caching.release_tracked()``,
even when the query failed. The seed sets the x N replica layout
of the input files and the query order of every measured pass.

Run shape:
  1. write the inputs from the fixtures (untimed);
  2. set up five times: import the registry, ``build_session`` and a
     fixed warm-up query; the first set-up also starts the JVM;
  3. pass 0, the cold first pass (staged builds, plan-memo fill, codegen).
     It is also the check pass: each query's result is collected instead
     of going to the noop sink (every result is small), and compared with
     its DuckDB oracle after the query's time is taken;
  4. ``MEASURED_PASSES`` measured passes, noop sink. No further
     warm-up pass is discarded: passes still fall as the JVM compiles, and
     ``pass_s`` takes each query's fastest measured execution.
     ``--seconds`` is the time the measured passes are sized to take; a run
     whose measured passes overrun it ``OVERRUN_FACTOR`` times stops
     without a result (exit code 3), which keeps a run on an overloaded
     host within its time limit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
N_SETUPS = 5
FIRST_MEASURED_PASS = 1
# Fixed, so every run reports over the same samples and query_tail_s is the
# same percentile (p88 of 26 on relational_x10, p78 of 14 on llm_serve);
# two keep a run near a minute on a slow 4-vCPU host (README.md, Run budget).
MEASURED_PASSES = 2
# Spark task slots: half the cores, so the JVM's compiler and GC threads
# and the Python workers beside each task do not queue behind the tasks
# (on a shared 4-vCPU host, local[4] ran llm_serve slower and less steadily
# than local[2]; README.md, Task slots)
SLOTS = max(1, (os.cpu_count() or 1) // 2)
OVERRUN_FACTOR = 4
TAIL_MIN_BEYOND = 3
UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
         "query_p50_s": "s", "query_tail_s": "s"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[int, float]:
    """The highest whole percentile (nearest rank, at least the median)
    with at least ``TAIL_MIN_BEYOND`` samples above it, and its value.
    With fewer than ``2 * TAIL_MIN_BEYOND`` samples no percentile at or
    above the median qualifies, and the maximum (p100) is returned."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        value = xs[max(1, -(-p * n // 100)) - 1]
        if sum(1 for x in xs if x > value) >= TAIL_MIN_BEYOND:
            return p, value
    return 100, xs[-1]


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark inside
    ``run_dir``; returns the Spark confs that do so."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the package, so they need the repo on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


class Client:
    """One benchmark process: a session, the registry and the pass log."""

    def __init__(self, workload, data_dir: str, seed: int, conf: dict, trace) -> None:
        self.workload = workload
        self.data_dir = data_dir
        self.seed = seed
        self.conf = conf
        self.trace = trace  # tracing.TraceRun or None
        self.spark = None
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.passes: list[dict] = []
        self.failed = 0
        self.attempted = 0

    def setup(self, t0: float) -> None:
        """Build a session and run the fixed warm-up query (one shuffle,
        so codegen and the shuffle path are running); ``t0`` is when this
        set-up began."""
        import __spark_entry__  # noqa: F401 - importing the registry is set-up work
        from mapreduce_simulation_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        tb = time.perf_counter()
        with self.trace.setup_span() if self.trace else nullcontext():
            self.spark = build_session(
                "perfbench", master=f"local[{SLOTS}]", extra_conf=self.conf)
        self.build_s.append(time.perf_counter() - tb)
        (self.spark.range(200_000).selectExpr("id % 97 AS k", "id")
         .groupBy("k").count().write.format("noop").mode("overwrite").save())
        self.setup_s.append(time.perf_counter() - t0)

    def run_pass(self, index: int, traced: bool = False, check=None) -> dict:
        """One pass over the workload, in the seeded order of this pass,
        or for the cold pass in the workload's own order. With
        ``check`` (a DuckDB connection) each result is collected and
        compared with its oracle instead of going to the noop sink."""
        import __spark_entry__
        from mapreduce_simulation_spark.operators import caching

        qs = __spark_entry__.queries()
        order = list(self.workload.queries)
        if index >= FIRST_MEASURED_PASS:
            # the cold pass keeps one order: the queries that run first pay
            # the run's one-off costs, and on llm_serve a cold pass that began
            # with distributed_logreg_train or streaming_lsh_serve took up to
            # 9 s longer, so a seeded order would move first_pass_s by seed
            random.Random(f"{self.seed}:{index}").shuffle(order)
        trace = self.trace
        runs = {}
        if trace:
            trace.begin_pass(index, traced)
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with trace.query(index, name) if trace else nullcontext():
                    try:
                        with trace.phase("construct") if trace else nullcontext():
                            df = qs[name](self.spark, self.data_dir)
                        t1 = time.perf_counter()
                        with trace.phase("execute") if trace else nullcontext():
                            if check is None:
                                df.write.format("noop").mode("overwrite").save()
                            else:
                                got = (df.columns, [tuple(r) for r in df.collect()])
                        t2 = time.perf_counter()
                    finally:
                        caching.release_tracked()
                t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, the loop goes on
                self.failed += 1
                log(f"pass {index} {name} FAILED: {str(exc).splitlines()[0][:300]}")
                continue
            if check is not None and not self._matches_oracle(check, name, *got):
                self.failed += 1
            runs[name] = {"construct_s": t1 - t0, "execute_s": t2 - t1,
                          "wall_s": t2 - t0, "with_release_s": t3 - t0}
        if trace:
            trace.end_pass()
        # a query's time is the client's whole loop step: construct,
        # execute, release
        rec = {"index": index, "traced": traced, "queries": runs,
               "total": sum(r["with_release_s"] for r in runs.values())}
        self.passes.append(rec)
        log(f"pass {index}{' traced' if traced else ''}: {rec['total']:.3f} s")
        return rec

    def _matches_oracle(self, con, name: str, cols, rows) -> bool:
        import __spark_entry__
        import oracle

        want_cols, want_rows = oracle.run_oracle(con, __spark_entry__.oracle_sql()[name])
        problems = oracle.compare(cols, rows, want_cols, want_rows)
        if problems:
            log(f"oracle MISMATCH {name}: {'; '.join(problems)}")
        return not problems

    def first_pass(self) -> None:
        """Pass 0, cold, checking every query's result against its DuckDB
        oracle over the same input files."""
        import duckdb

        import oracle
        from mapreduce_simulation_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {os.cpu_count() or 1}")
            oracle.duckdb_views(con, self.data_dir, TABLE_NAMES)
            self.run_pass(0, traced=self.trace is not None, check=con)
        finally:
            con.close()

    def measured(self) -> list[dict]:
        return [p for p in self.passes if p["index"] >= FIRST_MEASURED_PASS]

    def best_pass(self, passes: list[dict]) -> float:
        """A pass made of each query's fastest execution in ``passes``:
        other load on the host only ever adds time, so per-query minimums
        over a fixed number of passes move least from run to run."""
        # a query that failed in every pass adds nothing; the run's
        # ``failed`` count reports it
        return sum(min((p["queries"][q]["with_release_s"] for p in passes if q in p["queries"]),
                       default=0.0) for q in self.workload.queries)


def end_to_end(client: Client) -> dict[str, float]:
    measured = client.measured()
    walls = [q["with_release_s"] for p in measured for q in p["queries"].values()]
    pct, tail_value = tail(walls)
    log("per-query seconds by pass " + json.dumps([
        {q: round(r["with_release_s"], 4) for q, r in p["queries"].items()}
        for p in client.passes]))
    log(f"setups {[round(s, 3) for s in client.setup_s]}; "
        f"first pass {client.passes[0]['total']:.3f} s; 0 warm-up passes discarded; "
        f"measured passes {[round(p['total'], 3) for p in measured]}; "
        f"query_tail_s is p{pct} of n={len(walls)}")
    return {
        "setup_s": statistics.median(client.setup_s),
        "first_pass_s": client.passes[0]["total"],
        "pass_s": client.best_pass(measured),
        "query_p50_s": statistics.median(walls),
        "query_tail_s": tail_value,
    }


def prepare_inputs(workload, seed: int, data_dir: str) -> None:
    import inputs

    t = time.perf_counter()
    rows = inputs.prepare(workload.copies, seed, data_dir)
    log(f"wrote inputs in {time.perf_counter() - t:.2f} s (x{workload.copies}: "
        f"lineitem {rows['lineitem']}, orders {rows['orders']}, events {rows['events']} rows)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    workload = WORKLOADS.get(args.workload)
    if workload is None:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "mapreduce_simulation_spark"))):
        log(f"no engine to measure: {ROOT} lacks __spark_entry__.py or the package")
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    client = None
    try:
        conf = isolate(run_dir)
        data_dir = os.path.join(run_dir, "data")
        prepare_inputs(workload, args.seed, data_dir)

        t0 = time.perf_counter()
        trace = None
        if args.trace:
            import tracing

            trace = tracing.TraceRun(
                run_dir, os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
            conf.update(trace.spark_conf())
            trace.layers.install()  # must precede the registry import in setup()
        client = Client(workload, data_dir, args.seed, conf, trace)
        for i in range(N_SETUPS):
            client.setup(t0 if i == 0 else time.perf_counter())
        if trace:
            trace.attach(client.spark)

        t_setup = time.perf_counter()
        client.first_pass()
        t_measure = time.perf_counter()
        log(f"phase walls: set-ups {t_setup - t0:.1f} s, "
            f"first pass with checks {t_measure - t_setup:.1f} s")
        # a traced run measures untraced, traced, traced, untraced passes, so
        # the fall of the pass times as the JVM compiles cancels out of
        # trace.overhead_s
        plan = (False, True, True, False) if trace else (False,) * MEASURED_PASSES
        cap = OVERRUN_FACTOR * args.seconds * len(plan) / MEASURED_PASSES
        for n, traced in enumerate(plan):
            client.run_pass(FIRST_MEASURED_PASS + n, traced=traced)
            if time.perf_counter() - t_measure > cap:
                log(f"measured passes overran {cap:g} s after {n + 1} of {len(plan)}; "
                    "the host is too slow for this run to mean the same as others, "
                    "so it has no result")
                return 3

        if trace:
            metrics, units = trace.finish(client), tracing.PER_LAYER
        else:
            metrics, units = end_to_end(client), UNITS
        result = {
            "correct": client.failed == 0,
            "attempted": client.attempted,
            "failed": client.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if client is not None and client.spark is not None:
            client.spark.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it to exit (it
    takes its Python worker daemon with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
