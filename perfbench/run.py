"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload docs_tiles --seed 1 --seconds 16 --trace 0

Closed loop, one client: one process holds a ``local[N]`` session (N = the
CPUs this process may run on) and runs one query at a time: the checked
first query, untimed warm-up queries up to WARMUP_S seconds after the
first query's start, then the timed queries that fit in ``--seconds``.  Host context (CPUs, load1 at start and end, a
pure-JVM control job timed before and after the queries) is printed with
the metrics and is never a gate.  Every metric is printed by name with its
unit on stderr; the last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``metrics.py`` for both lists and which end-to-end metric each layer
metric should move).

A query is: the public operator call on the staged inputs (driver build,
including any plan-time jobs the operator runs), planning, and execution
materialized as one digest row: the row count, the sum of whole-row
hashes (so no output column can be pruned), and the sums of the workload's
check key and value.  The first query's digest is checked once against
the workload's numpy oracle; every later query must return the same
digest.  Everything the run writes stays under
``.perfbench/`` in the checkout; the scratch part is removed at exit and a
JSON artifact with every span and per-query record is kept in
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

from pyspark import SparkContext
from pyspark.sql import functions as F

from metrics import END_TO_END, PER_LAYER
from tracing import EventLog, Spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ndjson_spatial_spark"

# a fixed young generation inside a 1 GB initial heap, neither pre-touched:
# the resident size then grows with what the program holds, not with when
# the collector chose to resize the heap (which it does more on a busy host)
HEAP = "2g"
HEAP_START = "1g"
YOUNG = "512m"
# queries that start within this many seconds of the first query's start
# are untimed warm-up: the JIT keeps speeding short queries up for several
# seconds, while a query slower than this starts the timed window at once
WARMUP_S = 10.0
# rows of the pure-JVM control job timed before and after the queries
CONTROL_ROWS = 1 << 24


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test uses a tiny one)")
    return p.parse_args(argv)


class RssSampler(threading.Thread):
    """Peak resident memory of a process and all its descendants (the
    driver JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = 0
        self.peak_procs = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> tuple[int, int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, procs, todo = 0, 0, [self.pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            procs += 1
            todo.extend(children.get(pid, []))
        return total, procs

    def run(self):
        while not self._stop_evt.is_set():
            rss, procs = self._tree_rss()
            self.peak = max(self.peak, rss)
            self.peak_procs = max(self.peak_procs, procs)
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak


def _session(work: str, cpus: int, extra: dict):
    """The package's own session factory, with every file it writes kept
    under `work` and Spark's event log switched on."""
    from ndjson_spatial_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(events, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{HEAP_START} -Xmn{YOUNG}",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": events,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
        **extra,
    }
    return get_spark("perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf), events


def _storage(sc) -> tuple[int, float]:
    """(persistent RDDs registered, MB of block-manager storage they hold)."""
    held = sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo())
    return sc._jsc.getPersistentRDDs().size(), held / (1024.0 * 1024.0)


def _control(spark) -> float:
    t0 = time.perf_counter()
    spark.range(CONTROL_ROWS).select(F.sum(F.hash("id"))).collect()
    return time.perf_counter() - t0


def _digest(df, wl):
    """One row: (rows, sum of per-row xxhash64 >> 16, sum of the workload's
    check keys, sum of its check values).  The shift keeps the hash sum of
    up to 65536 rows inside a long, which ANSI mode checks."""
    value = wl.value()
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.shiftright(F.xxhash64(*df.columns), 16)).alias("h"),
                  F.sum(wl.key()).alias("k"),
                  F.sum(F.lit(0.0) if value is None else value).alias("v"))


class Run:
    """One benchmark run: set-up, the checked first query, the timed loop."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](args.scale)
        self.spans = Spans()
        self.queries: list[dict] = []
        self.errors: list[str] = []
        self.context: dict = {}

    # ------------------------------------------------------------ set-up

    def setup(self):
        cpus = len(os.sched_getaffinity(0))
        self.context = {"cpus": cpus, "load1_start": os.getloadavg()[0]}
        with self.spans.span("session.start"):
            self.spark, self.events = _session(self.work, cpus, self.wl.conf)
        self.sc = self.spark.sparkContext
        with self.spans.span("session.warm"):
            from ndjson_spatial_spark.session import warm_python_workers

            self.spark.range(1 << 20).select(F.sum("id")).collect()
            if self.wl.python_udfs:
                warm_python_workers(self.spark, cpus)
        with self.spans.span("sources.stage"):
            self.inputs = self.wl.stage(
                self.spark, os.path.join(self.work, "inputs"), self.args.seed)
        self.setup_s = sum(self.spans.seconds(name)[0] for name in
                           ("session.start", "session.warm", "sources.stage"))

    # ----------------------------------------------------------- queries

    def query(self, traced: bool) -> dict:
        """One query, tagged with a job group so Spark's records of it can
        be found in the event log afterwards."""
        n = len(self.queries)
        group = f"perfbench-q{n}"
        self.sc.setJobGroup(group, group)
        rdds0, held0 = _storage(self.sc)
        rec = {"n": n, "group": group, "traced": traced, "ok": False}
        try:
            if traced:
                with self.spans.span("query", q=n):
                    with self.spans.span("driver.build", q=n):
                        df = self.wl.query(self.spark, self.inputs)
                    agg = _digest(df, self.wl)
                    with self.spans.span("driver.optimize", q=n):
                        agg._jdf.queryExecution().executedPlan()
                    with self.spans.span("driver.exec", q=n):
                        row = agg.collect()[0]
                rec["seconds"] = self.spans.seconds("query")[-1]
            else:
                t0 = time.perf_counter()
                row = _digest(self.wl.query(self.spark, self.inputs),
                              self.wl).collect()[0]
                rec["seconds"] = time.perf_counter() - t0
            rec["digest"] = [row["n"], row["h"], row["k"] or 0]
            rec["value"] = row["v"] or 0.0
            rec["ok"] = True
        except Exception:  # a failed query is counted, and the run goes on
            self.errors.append(traceback.format_exc())
        finally:
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        rdds1, held1 = _storage(self.sc)
        rec.update(rdds_delta=rdds1 - rdds0, held_delta_mb=held1 - held0)
        self.queries.append(rec)
        return rec

    def check_first(self) -> str | None:
        """Compare the first query's digest with the oracle's."""
        with self.spans.span("oracle"):
            n, key, value = self.wl.expected(self.inputs)
        first = self.queries[0]
        got_n, _, got_key = first["digest"]
        if (got_n, got_key) != (n, key):
            return (f"result differs from the oracle: {got_n} rows, "
                    f"oracle {n}; key sum {got_key}, oracle {key}")
        if value is not None and not (abs(first["value"] - value)
                                      <= 1e-7 * abs(value)):
            return (f"result values differ from the oracle: sum "
                    f"{first['value']!r}, oracle {value!r}")
        return None

    def measure(self):
        self.context["control_before_s"] = _control(self.spark)
        sampler = RssSampler(self.sc._gateway.proc.pid)
        sampler.start()
        try:
            warm_until = time.perf_counter() + WARMUP_S
            first = self.query(traced=False)
            self.problem = (self.check_first() if first["ok"]
                            else "the first query failed")
            while time.perf_counter() < warm_until:
                self.query(traced=False)["phase"] = "warmup"
            # the timed window: after the first timed query (the first two
            # in a traced run, so trace.overhead_s has both kinds), a query
            # starts only if one of the median length so far still ends in it
            deadline = time.perf_counter() + self.args.seconds
            k = 0
            while k < 1 + self.args.trace or (time.perf_counter() + _median(
                    [q["seconds"] for q in _timed(self)]) <= deadline):
                # a traced run times traced and plain queries in the order
                # T P P T, so trace.overhead_s compares neighbours under the
                # same load (a warm-up trend cancels out from four queries on)
                traced = bool(self.args.trace) and k % 4 in (0, 3)
                self.query(traced=traced)["phase"] = "timed"
                k += 1
        finally:
            self.peak_rss_mb = sampler.stop() / (1024.0 * 1024.0)
            self.context["peak_procs"] = sampler.peak_procs
        self.context["control_after_s"] = _control(self.spark)
        self.context["load1_end"] = os.getloadavg()[0]

    # ----------------------------------------------------------- results

    def facts(self):
        """Spark's records for every query, read from the event log once the
        listener bus has drained."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        logs = [os.path.join(self.events, f) for f in os.listdir(self.events)]
        log = EventLog(logs[0])
        for rec in self.queries:
            rec["facts"] = log.query_facts(rec["group"])

    def verdict(self) -> tuple[int, int]:
        ref = self.queries[0].get("digest")
        attempted = len(self.queries)
        if self.problem is None:
            last = next(q for q in reversed(self.queries) if q["ok"])
            why = self.wl.check(last["facts"])
            if why:
                self.problem = "workload property not met: " + why
        if self.problem is not None:
            return attempted, attempted
        # the value sum is a float sum in no fixed order, so it is only
        # checked against the oracle, with a tolerance
        failed = sum(1 for q in self.queries
                     if not q["ok"] or q["digest"] != ref)
        return attempted, failed

    def close(self):
        """Stop the session, then the JVM it runs in, and wait for it."""
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(run: Run) -> list[dict]:
    return [q for q in run.queries if q.get("phase") == "timed" and q["ok"]]


def end_to_end(run: Run) -> dict:
    warm = [q["seconds"] for q in _timed(run)]
    query_s = _median(warm)
    return {
        "setup_s": run.setup_s,
        "query_s": query_s,
        "first_query_s": run.queries[0].get("seconds", 0.0),
        "rows_per_s": run.inputs["rows"] / query_s if query_s else 0.0,
        "peak_rss_mb": run.peak_rss_mb,
    }


def per_layer(run: Run, attempted: int, failed: int) -> dict:
    out = {
        "session.start_s": run.spans.seconds("session.start")[0],
        "session.warm_s": run.spans.seconds("session.warm")[0],
        "sources.generate_s": run.inputs["generate_s"],
        "sources.write_s": run.inputs["write_s"],
        "sources.written_mb": run.inputs["written_bytes"] / (1024.0 * 1024.0),
        "driver.build_s": _median(run.spans.seconds("driver.build")),
        "driver.optimize_s": _median(run.spans.seconds("driver.optimize")),
        "driver.exec_s": _median(run.spans.seconds("driver.exec")),
        "storage.persistent_rdds_delta": _median(
            [q["rdds_delta"] for q in run.queries]),
        "storage.held_mb": _median([q["held_delta_mb"] for q in run.queries]),
        "failed_frac": failed / attempted,
    }
    warm = _timed(run)
    facts = [q["facts"] for q in warm] or [run.queries[-1]["facts"]]
    for name in facts[0]:
        out.setdefault(name, _median([f[name] for f in facts]))
    out["tiles.rows"] = (run.queries[0]["digest"][0]
                         if run.wl.name == "docs_tiles" else 0)
    out["salting.max_factor"] = salt_max_factor(run)
    traced = [q["seconds"] for q in warm if q["traced"]]
    plain = [q["seconds"] for q in warm if not q["traced"]]
    out["trace.overhead_s"] = (_median(traced) - _median(plain)
                               if traced and plain else 0.0)
    return {k: out[k] for k, _, _ in PER_LAYER}


def salt_max_factor(run: Run) -> int:
    """The largest salt factor plans/salting assigns to this stream (0 for
    workloads that do not salt).  The join sketches the cells of a sample of
    its stream (seed 42, the fraction its `sketch_sample_frac` defaults to)
    and scales the counts back up; this repeats that sketch over the same
    staged stream with the layer's public sketch and plan functions (every
    stream row is a point, whose one join term is its cell)."""
    if not run.wl.salted:
        return 0
    import inspect

    from ndjson_spatial_spark.functions.cells_fn import st_cell_of_point
    from ndjson_spatial_spark.operators.spatial import spatial_intersection_join
    from ndjson_spatial_spark.plans.salting import key_frequency_sketch, salt_plan

    frac = inspect.signature(spatial_intersection_join) \
        .parameters["sketch_sample_frac"].default
    with run.spans.span("salting.plan"):
        s = run.spark.read.parquet(os.path.join(run.inputs["root"], "stream"))
        cells = s.select(st_cell_of_point(
            F.element_at("geom.x", 1), F.element_at("geom.y", 1),
            run.wl.res).alias("__term"))
        plan = salt_plan(key_frequency_sketch(cells, "__term", frac), "__term",
                         run.wl.hot_threshold, run.wl.target_per_salt)
        row = plan.agg(F.max("salt_factor")).collect()[0]
    return int(row[0] or 0)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the package {PACKAGE}/ is not in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers import the package from the checkout; Python and JVM
    # temp files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    run = Run(args, work)
    try:
        run.setup()
        run.measure()
        run.facts()
        attempted, failed = run.verdict()
        if args.trace:
            values, spec = per_layer(run, attempted, failed), PER_LAYER
        else:
            values, spec = end_to_end(run), END_TO_END
    finally:
        if hasattr(run, "spark"):
            run.close()
        shutil.rmtree(work, ignore_errors=True)

    for err in run.errors:
        print(err, file=sys.stderr)
    if run.problem:
        print(f"perfbench: {args.workload}: {run.problem}", file=sys.stderr)
    units = {name: unit for name, unit, _ in spec}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"queries={attempted} failed={failed} "
          + " ".join(f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}"
                     for k, v in run.context.items()), file=sys.stderr)
    for name, v in values.items():
        print(f"{name:32s} {v:16.6f} {units[name]}", file=sys.stderr)

    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "context": run.context,
                   "problem": run.problem, "metrics": values,
                   "spans": run.spans.records, "queries": run.queries},
                  f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
