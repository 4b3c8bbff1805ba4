"""Engine benchmark: daily warehouse loads and KPI queries, measured end to
end (untraced) or per layer (``--trace 1``).

    python3 enginebench/run.py --workload warehouse-daily --seed 1 --seconds 10 --trace 0

One closed-loop client (this process, one thread) drives the engine
through its public functions on ``session.get_spark()`` with
``local[nproc]`` and ``nproc`` shuffle partitions; the only confs added
are the ones that keep the console quiet and every file Spark writes
under ``enginebench/.work/run``. Workloads (see NOTES.md for sizes and
why each was chosen):

* ``warehouse-daily`` — one operation is one daily incremental load of
  seeded dirty HR / finance / ops CSV feeds: ``read_csv`` ×3,
  ``plans.warehouse.run_etl`` against the previous day's state, every
  state table written with ``write_table`` and read back as the next
  day's prior. Day 0 (the initial load) is set-up.
* ``kpi-query`` — one operation is one registered KPI / warehouse query
  over fixed generated tables, forced with a noop sink, in a
  seed-shuffled order per pass. Two full passes are set-up.

Every operation's output is checked (feed-generator row counts, SCD2
invariants and duplicate-free facts for the daily load; row count and an
order-insensitive digest recorded from the DuckDB-verified result for the
queries). A wrong output counts as a failed operation and makes the run
exit 1. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
EXPECTED = os.path.join(HERE, "expected.json")

#: The kpi-query operations: the 8 KPI views plus the star join and the
#: bulk SCD2 / incremental-fact / imputation pipelines.
KPI_QUERIES = (
    "op-pipe-kpi-headcount", "op-pipe-kpi-resignations",
    "op-pipe-kpi-avg-salary", "op-pipe-kpi-gross-monthly",
    "op-pipe-kpi-net-monthly-dept", "op-pipe-kpi-net-by-type",
    "op-pipe-kpi-downtime-by-process", "op-pipe-kpi-downtime-by-dept",
    "op-join-inner-star", "op-pipe-scd2", "op-pipe-fact-incr", "op-pipe-impute",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """State shared by both workloads: session, tracer, op records."""

    def __init__(self, args, engine) -> None:
        self.args = args
        self.engine = engine
        self.ops: list[dict] = []          # every executed operation
        self.failures: list[str] = []
        self.attempted = 0
        self.peak_storage = 0.0
        self.leaked = 0
        self.housekeeping_s = 0.0
        t0 = time.perf_counter()
        self.spark = engine.session.get_spark(
            master=f"local[{nproc()}]",
            shuffle_partitions=nproc(),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(RUN, "local"),
                "spark.sql.warehouse.dir": os.path.join(RUN, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
            },
        )
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = engine.tracing.Tracer(self.spark, args.workload, bool(args.trace))
        self.rdd_baseline = engine.caching.cached_rdd_count(self.spark)

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")
        print(f"FAILED {op}: {why}", file=sys.stderr)

    @contextmanager
    def guard(self, op: str):
        """An operation that raises counts as failed; the run goes on."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 — recorded as a failed operation
            traceback.print_exc()
            self.fail(op, f"raised {type(e).__name__}: {str(e)[:300]}")

    def between_ops(self, collect_garbage: bool = True) -> None:
        """Untimed housekeeping after an operation: memory samples, leak
        count, then Python and JVM garbage collection (skipped during the
        warm-up, whose operations are not timed)."""
        t0 = time.perf_counter()
        used = sum(e.memoryUsed() for e in self._executors())
        self.peak_storage = max(self.peak_storage, used / 2**20)
        self.engine.caching.release_unscoped(blocking=True)
        self.leaked = max(self.leaked, self.engine.caching.cached_rdd_count(self.spark)
                          - self.rdd_baseline)
        if collect_garbage:
            gc.collect()
            self.spark._jvm.System.gc()
        self.housekeeping_s += time.perf_counter() - t0

    def _executors(self):
        sc = self.spark.sparkContext
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        return conv.asJava(sc._jsc.sc().statusStore().executorList(True))

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return py + rss_mb(jvm_pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# --------------------------------------------------------------------------
# warehouse-daily
# --------------------------------------------------------------------------


class WarehouseDaily:
    """Daily incremental loads over seeded dirty feeds."""

    def __init__(self, run: Run) -> None:
        self.run = run
        e = run.engine
        self.wh = e.warehouse
        self.gen = e.feeds.FeedGenerator(run.args.seed)
        self.prior = None
        self.prev_dim_employee = 0
        self.state_dir = os.path.join(RUN, "state")

    def setup(self) -> None:
        self.day("untraced")  # day 0, the initial load

    def measure(self, deadline: float) -> None:
        # Whole days until the deadline, at least one. Traced runs
        # alternate traced and staged days, at least one of each.
        kinds = ("traced", "staged") if self.run.args.trace else ("untraced",)
        i = 0
        while (i < len(kinds) or time.perf_counter() < deadline) and not self.run.failures:
            self.day(kinds[i % len(kinds)], measured=True)
            i += 1

    def day(self, kind: str, measured: bool = False) -> None:
        with self.run.guard(f"day{self.gen.day_no:02d}"):
            self._day(kind, measured)

    def _day(self, kind: str, measured: bool) -> None:
        run, tr = self.run, self.run.tracer
        feed = self.gen.day()
        d = feed.day
        paths = feed.write(os.path.join(RUN, "feeds", f"day{d:02d}"))
        raw_bytes = sum(os.path.getsize(p) for p in paths.values())
        out = os.path.join(self.state_dir, f"day{d:02d}")
        op = f"day{d:02d}"
        tr.enabled = kind != "untraced"
        if kind == "staged":
            seconds = self._staged(op, feed, paths, out)
        else:
            t0 = time.perf_counter()
            with tr.span("build", op):
                with tr.span("sources.readers.read_csv", op):
                    raws = [run.engine.read_csv(run.spark, p) for p in paths.values()]
                with tr.span("plans.warehouse.run_etl", op):
                    state = self.wh.run_etl(run.spark, *raws, feed.load_date, self.prior)
            with tr.span("exec", op):
                for name in run.engine.feeds.STATE_TABLES:
                    with tr.span("sources.writers.write", f"{op}:{name}"):
                        run.engine.write_table(state[name], os.path.join(out, name))
                prior = self._read_back(out, op)
            seconds = time.perf_counter() - t0
            self.prior = prior
        tr.collect()
        tr.enabled = False
        self._check(op, feed, out)
        written = glob.glob(os.path.join(out, "*", "part-*"))
        run.ops.append({
            "op": op, "kind": kind, "measured": measured, "seconds": seconds,
            "rows": feed.rows, "raw_bytes": raw_bytes,
            "files_written": len(written),
            "bytes_written": sum(os.path.getsize(p) for p in written),
        })
        run.between_ops(collect_garbage=measured)
        # Keep only the state the next day reads.
        prev = os.path.join(self.state_dir, f"day{d - 1:02d}")
        shutil.rmtree(prev, ignore_errors=True)
        shutil.rmtree(os.path.join(RUN, "feeds", f"day{d - 1:02d}"), ignore_errors=True)

    def _read_back(self, out: str, op: str) -> dict:
        with self.run.tracer.span("sources.readers.read_parquet", op):
            return {n: self.run.spark.read.parquet(os.path.join(out, n))
                    for n in self.run.engine.feeds.STATE_TABLES}

    def _staged(self, op, feed, paths, out) -> float:
        """One daily load with every layer's output forced (and cached)
        inside that layer's span, so a span's time is that layer's own
        work. A layer's state input (the previous day's table) is
        materialized first, in a ``bench.materialize`` span of its own."""
        from pyspark.sql import DataFrame

        run, tr, wh = self.run, self.run.tracer, self.wh
        held: list[DataFrame] = []

        def force(df):
            held.append(df.persist())
            df.count()
            return df

        layers = {
            "clean_hr": "plans.warehouse.clean",
            "clean_finance": "plans.warehouse.clean",
            "clean_ops": "plans.warehouse.clean",
            "upsert_dim": "plans.dims.upsert",
            "merge_scd2": "plans.scd2.merge",
            "incremental_fact_insert": "plans.facts.insert",
        }
        originals = {n: getattr(wh, n) for n in layers}

        def staged(fname):
            fn = originals[fname]

            def call(first, *rest, **kw):
                if not first.storageLevel.useMemory:
                    with tr.span("bench.materialize", op):
                        force(first)
                with tr.span(layers[fname], op):
                    result = fn(first, *rest, **kw)
                    if isinstance(result, tuple):
                        force(result[0])
                    else:
                        force(result)
                return result
            return call

        t0 = time.perf_counter()
        try:
            for n in layers:
                setattr(wh, n, staged(n))
            with tr.span("sources.readers.read_csv", op):
                raws = [force(run.engine.read_csv(run.spark, p)) for p in paths.values()]
            state = wh.run_etl(run.spark, *raws, feed.load_date, self.prior)
            with tr.span("plans.dq", op):
                force(state["dq"])
                force(state["audit"])
            with tr.span("sources.writers.write", op):
                for name in run.engine.feeds.STATE_TABLES:
                    run.engine.write_table(state[name], os.path.join(out, name))
            self.prior = self._read_back(out, op)
            seconds = time.perf_counter() - t0
        finally:
            for n, fn in originals.items():
                setattr(wh, n, fn)
            for df in held:
                df.unpersist(blocking=True)
        return seconds

    def _check(self, op: str, feed, out: str) -> None:
        got = {n: self.run.engine.tables.footer_rows(
                   glob.glob(os.path.join(out, n, "*.parquet")))
               for n in self.run.engine.feeds.STATE_TABLES}
        bad = {n: (got[n], feed.expected[n]) for n in got if got[n] != feed.expected[n]}
        if bad:
            self.run.fail(op, f"row counts (got, expected): {bad}")
        self.new_versions = got["dim_employee"] - self.prev_dim_employee
        self.prev_dim_employee = got["dim_employee"]

    def final_check(self) -> None:
        """SCD2 invariants and duplicate-free facts after the last day."""
        from pyspark.sql import functions as F

        if self.run.failures:
            return  # the state is not the predicted one; the run has failed
        run, last = self.run, self.run.ops[-1]["op"]
        bad = run.engine.scd2.assert_scd2_invariants(self.prior["dim_employee"], "employee_id")
        if any(bad.values()):
            run.fail(last, f"SCD2 invariants violated after the last day: {bad}")
        for name in ("fact_employee", "fact_expenses", "fact_downtime"):
            df = self.prior[name]
            dups = df.groupBy(*df.columns).count().filter(F.col("count") > 1).count()
            if dups:
                run.fail(last, f"{name} holds {dups} duplicated rows after the last day")

    def per_layer(self) -> tuple[dict, dict]:
        tr, run = self.run.tracer, self.run
        traced = [o for o in run.ops if o["kind"] == "traced"]
        staged = [o for o in run.ops if o["kind"] == "staged"]

        def per_op(o, name):
            return sum(tr.self_seconds(i) for i, s in enumerate(tr.spans)
                       if s.op == o["op"] and s.name == name)

        layer = {}
        for name in ("sources.readers.read_csv", "plans.warehouse.clean",
                     "plans.dims.upsert", "plans.scd2.merge", "plans.facts.insert",
                     "plans.dq", "sources.writers.write"):
            key = name + ("_s" if name != "plans.dq" else ".s")
            layer[key] = median([per_op(o, name) for o in staged])
        c_exec = [tr.total(self._span(o, "exec")) for o in traced]
        c_build = [tr.total(self._span(o, "build")) for o in traced]
        force_s = [tr.spans[self._span(o, "exec")].seconds for o in traced]
        build_s = [tr.spans[self._span(o, "build")].seconds for o in traced]
        common = exec_metrics(c_exec, force_s)
        common.update({
            "build.s": median(build_s),
            "build.jobs": median([c["jobs"] for c in c_build]),
            "plans.scd2.merge_s": layer["plans.scd2.merge_s"],
            "plans.facts.insert_s": layer["plans.facts.insert_s"],
            "trace.overhead_frac": overhead_frac(tr, traced + staged),
            "trace.coverage_frac": median([
                (b + f) / o["seconds"] for b, f, o in zip(build_s, force_s, traced)]),
        })
        extra = dict(layer)
        extra.update({
            "plans.warehouse.scan_amp": median([
                c["input_bytes"] / o["raw_bytes"] for c, o in zip(c_exec, traced)]),
            "sources.writers.write_amp": median([
                o["bytes_written"] / o["raw_bytes"] for o in traced]),
            "sources.writers.bytes_written": median([o["bytes_written"] for o in traced]),
            "sources.writers.files_written": median([o["files_written"] for o in traced]),
            "plans.scd2.new_versions": self.new_versions,
        })
        return common, extra

    def _span(self, o, name) -> int:
        return next(i for i, s in enumerate(self.run.tracer.spans)
                    if s.op == o["op"] and s.name == name)


# --------------------------------------------------------------------------
# kpi-query
# --------------------------------------------------------------------------


class KpiQuery:
    """KPI / warehouse queries over fixed generated tables."""

    def __init__(self, run: Run) -> None:
        self.run = run
        e = run.engine
        self.queries = e.registry.all_queries()
        self.table_dir = e.tables.ensure(WORK)
        with open(EXPECTED) as fh:
            exp = json.load(fh)
        if exp["tables"] != e.tables.VERSION:
            raise SystemExit(f"expected.json records tables {exp['tables']}, "
                             f"generator is {e.tables.VERSION}: re-record it")
        self.expected = exp["queries"]
        self.rows: dict[str, int] = {}
        self.rng = random.Random(f"kpi-query:{run.args.seed}")
        self.pass_no = 0

    def setup(self) -> None:
        # Two warm-up passes: the first compiles every query's code, the
        # second lets the JIT settle.
        for _ in range(2):
            self.one_pass([(q, "untraced") for q in KPI_QUERIES], measured=False)

    def measure(self, deadline: float) -> None:
        # Whole seed-shuffled passes until the deadline, at least one.
        kind = "traced" if self.run.args.trace else "untraced"
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            order = list(KPI_QUERIES)
            self.rng.shuffle(order)
            self.one_pass([(q, kind) for q in order], measured=True)
            i += 1

    def one_pass(self, plan: list[tuple[str, str]], measured: bool) -> None:
        for name, kind in plan:
            op = f"{name}@p{self.pass_no}" + ("t" if kind == "traced" else "")
            self.run.tracer.enabled = kind == "traced"
            with self.run.guard(op):
                self.one_op(name, op, kind, measured)
            self.run.tracer.enabled = False
        self.pass_no += 1

    def one_op(self, name: str, op: str, kind: str, measured: bool) -> None:
        """Build the query, force it through a noop sink whose observed
        row count and xxhash64 sum are checked against expected.json."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        run, tr = self.run, self.run.tracer
        obs = Observation(op)
        t0 = time.perf_counter()
        with tr.span("build", op):
            df = self.queries[name](run.spark, self.table_dir)
        with tr.span("exec", op):
            (df.observe(obs, *digest_columns(df))
             .write.format("noop").mode("overwrite").save())
        seconds = time.perf_counter() - t0
        tr.collect()
        got, want = obs.get, self.expected[name]
        if got["rows"] != want["rows"] or str(got["digest"]) != want["digest"]:
            run.fail(op, f"rows/digest {got['rows']}/{got['digest']} != "
                         f"{want['rows']}/{want['digest']}")
        if name not in self.rows:
            self.rows[name] = run.engine.tables.footer_rows(sorted(set(df.inputFiles())))
        run.ops.append({"op": op, "query": name, "kind": kind, "measured": measured,
                        "seconds": seconds, "rows": self.rows[name]})
        run.between_ops(collect_garbage=measured)

    def final_check(self) -> None:
        pass

    def per_layer(self) -> tuple[dict, dict]:
        tr, run = self.run.tracer, self.run
        traced = [o for o in run.ops if o["kind"] == "traced"]
        spans = {(s.op, s.name): s for s in tr.spans}
        build = [spans[(o["op"], "build")] for o in traced]
        force = [spans[(o["op"], "exec")] for o in traced]
        common = exec_metrics([s.counters for s in force], [s.seconds for s in force])
        by_query = {}
        for o, b, f in zip(traced, build, force):
            by_query.setdefault(o["query"], []).append((o, b, f))

        def q_seconds(q):
            return median([o["seconds"] for o, _, _ in by_query[q]])

        common.update({
            "build.s": median([s.seconds for s in build]),
            "build.jobs": median([s.counters["jobs"] for s in build]),
            "plans.scd2.merge_s": q_seconds("op-pipe-scd2"),
            "plans.facts.insert_s": q_seconds("op-pipe-fact-incr"),
            "trace.overhead_frac": overhead_frac(tr, traced),
            "trace.coverage_frac": median([(b.seconds + f.seconds) / o["seconds"]
                                           for o, b, f in zip(traced, build, force)]),
        })
        extra = {}
        for q, rows in sorted(by_query.items()):
            extra[f"{q}.s"] = median([o["seconds"] for o, _, _ in rows])
            extra[f"{q}.jobs"] = median([b.counters["jobs"] + f.counters["jobs"]
                                         for _, b, f in rows])
            extra[f"{q}.shuffle_bytes"] = median([f.counters["shuffle_write_bytes"]
                                                  for _, _, f in rows])
        return common, extra


def digest_columns(df):
    """Row count and order-insensitive digest (sum of per-row xxhash64 over
    the columns in name order) of a query result, as aggregate columns."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    return (F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"))


def end_to_end(ops: list[dict]) -> dict:
    """Median latency and input rows per timed second of the timed
    operations (untraced runs only)."""
    timed = [o for o in ops if o["measured"]]
    seconds = sum(o["seconds"] for o in timed)
    return {"op_p50_s": median([o["seconds"] for o in timed]),
            "rows_per_s": sum(o["rows"] for o in timed) / seconds if seconds else 0.0}


def overhead_frac(tracer, ops: list[dict]) -> float:
    """Share the tracer adds to the traced operations: its own span
    bookkeeping (job-group calls included) over the rest of their time.
    Measured directly, because two operations of one run differ by more
    than tracing adds (JIT settling, another day's data)."""
    timed = sum(o["seconds"] for o in ops)
    return tracer.own_s / (timed - tracer.own_s)


def exec_metrics(cs: list[dict], force_s: list[float]) -> dict:
    """Median per operation of the status-store counters of its forcing."""
    m = {"exec.force_s": median(force_s)}
    for k in ("jobs", "stages", "tasks", "cpu_s", "gc_s", "input_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{k}"] = median([c[k] for c in cs])
    m["exec.cpu_util"] = median([c["cpu_s"] / (s * nproc()) for c, s in zip(cs, force_s)])
    return m


WORKLOADS = {"warehouse-daily": WarehouseDaily, "kpi-query": KpiQuery}

#: metric → unit, in the order of BENCHMARK.json
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}


class Engine:
    """The engine modules the benchmark calls, imported in one place so a
    checkout without the engine fails before any work starts."""

    def __init__(self) -> None:
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        from data_warehousing_assignment_spark import caching, registry, session
        from data_warehousing_assignment_spark.plans import scd2, warehouse
        from data_warehousing_assignment_spark.sources.readers import read_csv
        from data_warehousing_assignment_spark.sources.writers import write_table

        import feeds
        import tables
        import tracing

        self.caching, self.registry, self.session = caching, registry, session
        self.scd2, self.warehouse = scd2, warehouse
        self.read_csv, self.write_table = read_csv, write_table
        self.feeds, self.tables, self.tracing = feeds, tables, tracing


def layer_units(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("frac", "util", "amp")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    shutil.rmtree(RUN, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(RUN, sub))
    os.environ["TMPDIR"] = os.path.join(RUN, "tmp")
    try:
        engine = Engine()
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2

    t_setup = time.perf_counter()
    run = Run(args, engine)
    try:
        workload = WORKLOADS[args.workload](run)
        workload.setup()
        setup_s = time.perf_counter() - t_setup
        gc.collect()
        run.spark._jvm.System.gc()
        workload.measure(time.perf_counter() + args.seconds)
        workload.final_check()
        with open(os.path.join(RUN, f"ops-{args.workload}.json"), "w") as fh:
            json.dump(run.ops, fh, indent=1)
        if args.trace:
            metrics, extra = workload.per_layer()
            metrics.update({
                "session.start_s": run.session_start_s,
                "caching.peak_storage_mb": run.peak_storage,
                "caching.leaked_rdds": run.leaked,
                "process.peak_rss_mb": run.peak_rss_mb(),
            })
            run.tracer.dump(os.path.join(RUN, f"trace-{args.workload}.json"))
        else:
            metrics, extra = end_to_end(run.ops), {}
            metrics["setup_s"] = setup_s
    finally:
        run.stop()

    for k, v in sorted(extra.items()):
        print(f"layer {k} = {v:.6g} {layer_units(k)}")
    timed = [o for o in run.ops if o["measured"]]
    print(f"{len(timed)} timed operations of {run.attempted} run, "
          f"{len(run.failures)} failures; "
          f"{run.housekeeping_s:.1f} s of untimed garbage collection and sampling")
    units = END_TO_END if not args.trace else {k: layer_units(k) for k in metrics}
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len({f.split(":")[0] for f in run.failures}),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
