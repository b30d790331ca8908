#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload governed_sql --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  The run builds its fixture tables
under ``perfbench/.data`` on first use, starts one Spark session through
``okera_trino_spark.session.get_spark`` with ``SPARK_GRAFT_CPUS`` set to
the usable cores, sets the workload up and warms the process up without
running any timed op, then drives the engine from one client thread in
a closed loop until ``--seconds`` of op time have been measured (whole
rounds or passes).  Every timed op is the first execution of its
statement or key in the process.

A timed op ends when its full result is a pandas frame in Python
(``deliver``).  Its output is checked against ``expected.json`` after
the timer stops; persisted RDDs are counted, then released, also
outside the timer.  With ``--trace 1`` the run records spans per layer
(``tracing.py``) and reports per-layer metrics instead of end-to-end ones.

Human-readable results go to stderr; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.  See METRICS.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from statistics import geometric_mean, median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, ".data")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402
from canon import matches, reference  # noqa: E402
from stats import failure_ratio, percentile  # noqa: E402

MB = 1024.0 * 1024.0

#: The gated end-to-end metrics (BENCHMARK.json).  Typical op latency is
#: gated as the geometric mean: the ops are heterogeneous, so the median
#: jumps between the few ops nearest it.  The percentiles, peak RSS and
#: retained MB are printed but not gated (see METRICS.md).
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_ms": "ms"}

LAYER_UNITS = {
    "session.py4j_calls": "count", "session.py4j_ms": "ms",
    "catalog.execute_ms": "ms", "catalog.governed_reads": "count",
    "catalog.register_skip_ratio": "ratio",
    "catalog.load_table_calls": "count",
    "catalog.table_memo_hit_ratio": "ratio",
    "trino_sql.rewrite_ms": "ms", "trino_sql.explain_probe_ms": "ms",
    "trino_sql.udf_setup_ms": "ms", "trino_sql.match_recognize_ms": "ms",
    "construct.ms": "ms", "construct.driver_ms": "ms",
    "construct.eager_jobs": "count", "construct.eager_ms": "ms",
    "catalyst.parsing_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_ms": "ms", "exec.job_ms": "ms", "exec.collect_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.core_util": "ratio", "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.broadcast_mb": "MB",
    "exec.python_mb": "MB", "exec.result_rows": "rows",
    "audit.records": "count", "audit.callback_ms": "ms",
    "storage.pinned_rdds_left": "count", "storage.release_ms": "ms",
    "storage.retained_mb": "MB",
    "trace.pass_s": "s", "trace.op_geomean_ms": "ms",
    "trace.selftime_share": "ratio",
}


def deliver(df):
    """The result sink of every timed op: the full result reaches Python
    through Arrow.  Never ``count()``: Catalyst prunes every column the
    count does not need, so computed aggregates would go unmeasured."""
    return df.toPandas()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and size the engine to the usable cores."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata files: the launcher and driver JVMs would write them
    # under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell"])


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return py + int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the JVM")


class Bench:
    """Shared op machinery: timing, leak accounting, output checks."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.tracer = None  # a tracing.Tracer in a traced run
        self.n_ops = 0
        self.timed = 0.0          # summed op wall, s
        self.read_walls: list[float] = []
        self.passes: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.retained_mb = 0.0
        self.pinned: list[int] = []
        self.release_ms: list[float] = []

    def timed_op(self, op: W.Op, construct, expected, module: str = "") -> float:
        """Run ``construct()`` and deliver its result under the timer;
        account, release and check after it.  ``expected`` is the
        ``canon.reference`` of the result (None for writes).  A read
        that raises keeps its latency sample and counts as failed."""
        i, tr = self.n_ops, self.tracer
        self.n_ops += 1
        pdf = err = None
        span = tr.begin(i) if tr else None
        start = time.perf_counter()
        try:
            if tr:
                with tr.span("construct", module=module):
                    df = construct()
                if df is not None:
                    tr.to_action(i)
                    with tr.span("action"):
                        pdf = deliver(df)
            else:
                df = construct()
                if df is not None:
                    pdf = deliver(df)
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            err = exc
        wall = time.perf_counter() - start
        if tr:
            tr.end(span)
        self.timed += wall
        pinned, pinned_mb, release_ms = self._release()
        self.pinned.append(pinned)
        self.retained_mb = max(self.retained_mb, pinned_mb)
        self.release_ms.append(release_ms)
        if tr:
            tr.finish(i, span, {"kind": op.kind, "target": op.target,
                                "user": op.user, "module": module,
                                "rows": 0 if pdf is None else len(pdf)})
        self.attempted += 1
        if op.is_read:
            self.read_walls.append(wall)
        what = f"{op.kind} {op.target} as {op.user}"
        if err is not None:
            first = (str(err).splitlines() or [""])[0][:200]
            self.failures.append(f"{what}: raised {type(err).__name__}: {first}")
        elif op.is_read:
            if not matches(pdf, expected):
                got, want = reference(pdf)[:2], (expected or [None])[:2]
                self.failures.append(f"{what}: output {got} != expected {want}")
        return wall

    def _release(self) -> tuple[int, float, float]:
        """Count what the last op left pinned, then release it (blocking).
        Returns (persisted RDDs, their MB, release ms).  Never forces a
        JVM GC: that degrades the next ops 2-4x."""
        jsc = self.spark.sparkContext._jsc
        rdds = jsc.getPersistentRDDs()
        pinned = sum(info.memSize() + info.diskSize()
                     for info in jsc.sc().getRDDStorageInfo())
        start = time.perf_counter()
        if len(rdds):
            for rdd in rdds.values():
                rdd.unpersist(True)
        return len(rdds), pinned / MB, (time.perf_counter() - start) * 1000.0

    def untimed(self, construct):
        """Warm-up call: same path, no timer, no check."""
        try:
            df = construct()
            return None if df is None else deliver(df)
        finally:
            self._release()


class GovernedSQL:
    """Three users send the frozen Trino texts through
    ``GovernedCatalog.execute`` at sf0.01 (see ``W.GovernedRounds``)."""

    def __init__(self, bench: Bench, spark, sf_dir: str, expected: dict,
                 seed: int) -> None:
        from okera_trino_spark.sources.catalog import (GovernedCatalog,
                                                       TablePolicy)
        self.bench, self.seed = bench, seed
        self.policy = TablePolicy
        self.cat = GovernedCatalog(spark, sf_dir)
        self.variant = "A"
        self._set_filter("A")
        table, col = W.MASKED_COLUMN
        self.cat.set_policy("auditor", table,
                            TablePolicy(column_masks={col: "hash"}))
        self.texts = {**W.load_statements(), **W.METADATA_STATEMENTS}
        self.refs = dict(expected["governed_sql"])

    def _set_filter(self, variant: str) -> None:
        self.variant = variant
        self.cat.set_policy("regional", "orders",
                            self.policy(row_filter=W.ROW_FILTERS[variant]))

    def _call(self, op: W.Op):
        if op.kind == "sql":
            return lambda: self.cat.execute(self.texts[op.target],
                                            user=op.user, dialect="trino")
        if op.kind == "view_read":
            return lambda: self.cat.read(op.target, user=op.user)
        if op.kind == "create_view":
            return lambda: self.cat.create_view(
                op.target, W.VIEWS[op.target], replace=True, dialect="trino")
        if op.kind == "drop_view":
            return lambda: self.cat.drop_view(op.target)
        if op.kind == "set_filter":
            return lambda: self._set_filter("B" if self.variant == "A" else "A")
        raise ValueError(f"unknown op kind {op.kind}")

    def warm_up(self) -> None:
        """Process-level warm-up, no timed statement: one scan of every
        fixture table through the catalog, and each catalog-discovery
        statement once as ``analyst``.  That result is the statement's
        reference in every policy state: no policy here hides a column,
        so what SHOW and DESCRIBE return must not depend on the user."""
        from okera_trino_spark.sources.catalog import TABLE_NAMES
        for table in TABLE_NAMES:
            self.bench.untimed(lambda: self.cat.execute(
                f"SELECT count(*) AS n FROM {table}", user="analyst",
                dialect="trino"))
        for sid in W.METADATA_STATEMENTS:
            ref = reference(self.bench.untimed(self._call(W.Op("sql", sid))))
            for state in W.POLICY_STATES:
                self.refs[f"{sid}|{state}"] = ref

    def measure(self, seconds: float) -> None:
        b = self.bench
        rounds = W.GovernedRounds(list(self.texts), self.seed)
        while True:
            took = 0.0
            for op in rounds.round():
                ref = (self.refs.get(f"{op.target}|"
                                     f"{W.policy_state(op.user, self.variant)}")
                       if op.is_read else None)
                took += b.timed_op(op, self._call(op), ref,
                                   module="okera_trino_spark.sources.catalog")
            b.passes.append(took)
            if b.timed >= seconds:
                return


class Batch:
    """Seeded passes over a frozen registry key list at sf0.1."""

    def __init__(self, bench: Bench, spark, keys, sf_dir: str,
                 expected: dict, seed: int) -> None:
        from okera_trino_spark.registry import load_all_queries
        self.bench, self.spark, self.keys = bench, spark, keys
        self.sf_dir = sf_dir
        self.specs = load_all_queries()
        self.expected = expected
        self.rng = random.Random(seed)

    def warm_up(self) -> None:
        """Process-level warm-up, no timed key: one small read of every
        fixture table fills the table-plan memo and the footer reads."""
        from okera_trino_spark.sources.catalog import TABLE_NAMES, load_table
        for table in TABLE_NAMES:
            self.bench.untimed(
                lambda: load_table(self.spark, self.sf_dir, table).limit(10))

    def measure(self, seconds: float) -> None:
        b = self.bench
        while True:
            took = 0.0
            for op in W.batch_pass(self.keys, self.rng):
                fn = self.specs[op.target].fn
                took += b.timed_op(op, lambda: fn(self.spark, self.sf_dir),
                                   self.expected.get(op.target),
                                   module=fn.__module__)
            b.passes.append(took)
            if b.timed >= seconds:
                return


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "okera_trino_spark")):
        print("perfbench: okera_trino_spark is not in this checkout",
              file=sys.stderr)
        return 2
    wl = args.workload
    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)
    sys.path.insert(0, ROOT)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    # fixture generation is a one-time build of the checkout, not set-up
    gen_start = time.perf_counter()
    sf = W.SCALE[wl]
    try:
        sf_dir = datagen.ensure_dir(os.path.join(DATA, f"sf{sf:g}"), sf,
                                    expected["data"][f"sf{sf:g}"])
    except datagen.DataDrift as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    gen_s = time.perf_counter() - gen_start

    from okera_trino_spark.session import get_spark
    spark = get_spark("perfbench")
    try:
        bench = Bench(spark)
        if wl == "governed_sql":
            runner = GovernedSQL(bench, spark, sf_dir, expected, args.seed)
        else:
            runner = Batch(bench, spark, W.BATCH_KEYS[wl], sf_dir,
                           expected[wl], args.seed)
        runner.warm_up()
        tracer = None
        if args.trace:
            from tracing import Tracer
            tracer = bench.tracer = Tracer(spark, cores)
            tracer.install()
        setup_s = time.perf_counter() - T0 - gen_s
        runner.measure(args.seconds)
        rss = peak_rss_mb(spark)
        result = report(wl, args, bench, tracer, setup_s, rss)
        if tracer:
            tracer.uninstall()
            tracer.write(os.path.join(WORK, f"trace-{wl}-{args.seed}.json"))
    finally:
        stop(spark)
    print(json.dumps(result))
    return 0


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (it
    exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def report(wl, args, bench: Bench, tracer, setup_s: float, rss: float) -> dict:
    """Print every end-to-end metric by name (stderr) and
    return the result line; its metrics are the gated ``E2E_UNITS`` or,
    in a traced run, the per-layer ones."""
    walls = bench.read_walls
    n = len(walls)
    failed = len(bench.failures)
    e2e = {
        "setup_s": setup_s,
        "pass_s": median(bench.passes),
        "op_geomean_ms": geometric_mean(walls) * 1000.0,
    }
    p50 = median(walls) * 1000.0
    lines = [
        f"perfbench {wl} seed={args.seed} trace={args.trace}: "
        f"{bench.attempted} ops ({n} reads) in {len(bench.passes)} "
        f"passes, {bench.timed:.2f} s timed",
        f"  setup_s        {setup_s:10.3f} s",
        f"  pass_s         {e2e['pass_s']:10.3f} s "
        f"(median of {len(bench.passes)})",
        f"  op_geomean_ms  {e2e['op_geomean_ms']:10.3f} ms (n={n})",
    ]
    if wl == "governed_sql":
        p90 = (f"{percentile(walls, 90) * 1000.0:10.3f} ms" if n >= 100
               else f"{'n/a':>10s}    (needs 100 reads)")
        lines += [
            f"  sql_p50_ms     {p50:10.3f} ms (n={n})",
            f"  sql_p90_ms     {p90}",
            f"  sql_qps        {n / bench.timed:10.3f} stmt/s",
        ]
    else:
        lines.append(f"  op_p50_ms      {p50:10.3f} ms (n={n})")
    lines += [
        f"  failed_ratio   {failure_ratio(failed, bench.attempted):10.4f} "
        f"({failed}/{bench.attempted})",
        f"  retained_mb    {bench.retained_mb:10.3f} MB",
        f"  peak_rss_mb    {rss:10.1f} MB",
    ]
    lines += [f"  FAILED {f}" for f in bench.failures]
    if tracer:
        storage = {
            "storage.pinned_rdds_left": sum(bench.pinned) / len(bench.pinned),
            "storage.release_ms": sum(bench.release_ms) / len(bench.release_ms),
            "storage.retained_mb": bench.retained_mb,
        }
        layer = tracer.metrics(e2e["pass_s"], e2e["op_geomean_ms"], storage)
        lines += [f"  {k:30s} {v:14.4f} {LAYER_UNITS[k]}"
                  for k, v in sorted(layer.items())]
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    print("\n".join(lines), file=sys.stderr)
    return {"correct": failed == 0, "attempted": bench.attempted,
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
