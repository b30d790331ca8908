"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary;
nothing is added inside ``okera_trino_spark``.  The tracer

- wraps py4j's command send and the public functions of the catalog
  (``sources.catalog``) and dialect (``functions.trino_sql``) modules;
- tags jobs with ``setJobGroup`` as ``construct:<op>`` or ``action:<op>``;
- registers its own ``QueryExecutionListener`` that only keeps each
  executed ``QueryExecution``.

After each op's timer stops it drains the listener bus, then reads
``qe.tracker().phases()`` (Catalyst), walks ``executedPlan`` through AQE
and query stages for SQL metrics, and reads job and stage data for the
op's job groups from the status store.  Catalyst phases and jobs become
spans placed by time under the innermost main-thread span that holds
them.  A layer's self time is its spans' duration minus what their
children cover, so the layers partition each op's wall; the
``construct`` and ``action`` self times are what is left over.

Spans stay in memory and are written once, by ``write``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import sys
import threading
import time
from collections import defaultdict

from stats import self_times

#: span name -> per-layer metric its self time feeds
SELF_METRIC = {
    "construct": "construct.driver_ms",
    "action": "exec.collect_ms",
    "py4j": "session.py4j_ms",
    "catalog": "catalog.execute_ms",
    "trino_sql.rewrite": "trino_sql.rewrite_ms",
    "trino_sql.explain_probe": "trino_sql.explain_probe_ms",
    "trino_sql.udf_setup": "trino_sql.udf_setup_ms",
    "trino_sql.match_recognize": "trino_sql.match_recognize_ms",
    "catalyst.parsing": "catalyst.parsing_ms",
    "catalyst.analysis": "catalyst.analysis_ms",
    "catalyst.optimization": "catalyst.optimization_ms",
    "catalyst.planning": "catalyst.planning_ms",
    "job.construct": "construct.eager_ms",
    "job.action": "exec.job_ms",
}

#: self-time metrics that take in whatever no named layer claims: the
#: op's construct and action spans cover nearly all of its wall
LEFTOVER = ("construct.driver_ms", "exec.collect_ms")

_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")

MB = 1024.0 * 1024.0


class _KeepQE:
    """py4j QueryExecutionListener that only keeps the executed
    QueryExecution; everything else happens after the op's timer."""

    class Java:  # noqa: D106 - py4j protocol marker
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self) -> None:
        self.kept: list = []
        self.lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        with self.lock:
            self.kept.append(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        pass

    def take(self) -> list:
        with self.lock:
            out, self.kept = self.kept, []
        return out


class Tracer:
    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.main = threading.get_ident()
        # JVM clocks are epoch ms; spans use perf_counter seconds
        self.offset = time.time() - time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.records: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.own = False
        self.patches: list[tuple] = []
        self.listener = _KeepQE()

    # ---------------------------------------------------------- spans
    def _open(self, name: str, **attrs) -> dict:
        s = {"id": len(self.spans), "name": name, "op": self.op,
             "parent": self.stack[-1] if self.stack else None,
             "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(s)
        self.stack.append(s["id"])
        return s

    def _close(self, s: dict) -> None:
        s["end"] = time.perf_counter()
        self.stack.pop()

    def _traced(self) -> bool:
        return (self.op is not None and not self.own
                and threading.get_ident() == self.main)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self._open(name, **attrs)
        try:
            yield
        finally:
            self._close(s)

    # -------------------------------------------------------- patching
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        new = functools.wraps(orig)(make(orig))
        setattr(owner, attr, new)
        self.patches.append((owner, attr, orig))
        # modules that imported the function by name hold their own
        # reference; rebind those too
        if callable(orig) and not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if not name.startswith("okera_trino_spark") or mod is owner:
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, new)
                        self.patches.append((mod, k, orig))

    def _layer(self, owner, attr: str, span: str) -> None:
        tracer = self

        def make(orig):
            def wrapper(*a, **kw):
                if not tracer._traced():
                    return orig(*a, **kw)
                with tracer.span(span):
                    return orig(*a, **kw)
            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        from okera_trino_spark.functions import trino_sql
        from okera_trino_spark.sources import audit, catalog

        tracer = self

        def py4j_send(orig):
            def send_command(client, *a, **kw):
                if not tracer._traced():
                    return orig(client, *a, **kw)
                start = time.perf_counter()
                try:
                    return orig(client, *a, **kw)
                finally:
                    tracer.spans.append({
                        "id": len(tracer.spans), "name": "py4j",
                        "op": tracer.op, "start": start,
                        "end": time.perf_counter(),
                        "parent": tracer.stack[-1] if tracer.stack else None})
                    tracer.counts["session.py4j_calls"] += 1
            return send_command

        self._patch(GatewayClient, "send_command", py4j_send)

        cat_cls = catalog.GovernedCatalog
        for attr in ("execute", "set_policy", "create_view", "drop_view",
                     "expand_view"):
            self._layer(cat_cls, attr, "catalog")

        def read(orig):
            def wrapper(cat, *a, **kw):
                if not tracer._traced():
                    return orig(cat, *a, **kw)
                tracer.counts["catalog.governed_reads"] += 1
                with tracer.span("catalog"):
                    return orig(cat, *a, **kw)
            return wrapper

        def register(orig):
            def wrapper(cat, *a, **kw):
                if not tracer._traced():
                    return orig(cat, *a, **kw)
                before = tracer.counts["catalog.governed_reads"]
                with tracer.span("catalog"):
                    out = orig(cat, *a, **kw)
                tracer.counts["catalog.register_calls"] += 1
                if tracer.counts["catalog.governed_reads"] == before:
                    tracer.counts["catalog.register_skips"] += 1
                return out
            return wrapper

        def load_table(orig):
            def wrapper(spark, sf_dir, name, *a, **kw):
                if not tracer._traced():
                    return orig(spark, sf_dir, name, *a, **kw)
                memo = catalog._TABLE_MEMO.get(spark, {})
                tracer.counts["catalog.load_table_calls"] += 1
                if (sf_dir, name) in memo:
                    tracer.counts["catalog.table_memo_hits"] += 1
                with tracer.span("catalog"):
                    return orig(spark, sf_dir, name, *a, **kw)
            return wrapper

        self._patch(cat_cls, "read", read)
        self._patch(cat_cls, "_register_governed", register)
        self._patch(catalog, "load_table", load_table)
        for attr, span in (("rewrite_trino_sql", "trino_sql.rewrite"),
                           ("execute_trino_explain", "trino_sql.explain_probe"),
                           ("ensure_dialect_udfs", "trino_sql.udf_setup"),
                           ("execute_match_recognize",
                            "trino_sql.match_recognize")):
            self._layer(trino_sql, attr, span)

        def on_success(orig):
            # runs on the py4j callback thread, beside the main thread
            def wrapper(listener, *a, **kw):
                start = time.perf_counter()
                try:
                    return orig(listener, *a, **kw)
                finally:
                    tracer.counts["audit.records"] += 1
                    tracer.counts["audit.callback_ms"] += (
                        time.perf_counter() - start) * 1000.0
            return wrapper

        self._patch(audit._QueryExecutionListener, "onSuccess", on_success)
        self.spark._jsparkSession.listenerManager().register(self.listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.patches):
            setattr(owner, attr, orig)
        self.patches.clear()
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    # ------------------------------------------------------------- ops
    def _job_group(self, group: str | None) -> None:
        self.own = True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self.own = False

    def begin(self, op_id: int) -> dict:
        self.counts = defaultdict(float)
        self.op = op_id
        self._job_group(f"construct:{op_id}")
        return self._open("op")

    def to_action(self, op_id: int) -> None:
        self._job_group(f"action:{op_id}")

    def end(self, op_span: dict) -> None:
        """Close the op at its timer's end; later py4j calls are the
        tracer's own."""
        self._close(op_span)
        self.op = None
        self._job_group(None)

    def finish(self, op_id: int, op_span: dict, info: dict) -> dict:
        """Collect the JVM-side data of op ``op_id`` (after its timer)
        and return the op's trace record."""
        jsc = self.sc._jsc.sc()
        # drained bus: every listener callback of the op has run and the
        # status store holds its jobs
        jsc.listenerBus().waitUntilEmpty(10_000)
        counts = self.counts
        jvm_spans, plans = [], []
        for qe in self.listener.take():
            jvm_spans += self._phases(qe)
            plans.append(self._walk(qe.executedPlan(), counts))
        for phase in ("construct", "action"):
            jvm_spans += self._jobs(f"{phase}:{op_id}", phase, counts, jsc)
        return self._record(op_id, op_span, jvm_spans, counts, info, plans)

    def _phases(self, qe) -> list[dict]:
        out = []
        for name, a, b in _PHASE_RE.findall(qe.tracker().phases().toString()):
            out.append({"name": f"catalyst.{name}",
                        "start": int(a) / 1000.0 - self.offset,
                        "end": int(b) / 1000.0 - self.offset})
        return out

    def _walk(self, plan, counts) -> list:
        """Operators of one executed plan as ``[name, {metric: value}]``,
        descending AQE plans, query stages and subqueries."""
        nodes, stack = [], [plan]
        while stack:
            p = stack.pop()
            name = p.nodeName()
            if name == "AdaptiveSparkPlan":
                stack.append(p.executedPlan())
                continue
            if name.endswith("QueryStage"):
                stack.append(p.plan())
                continue
            m = {k: int(v) for k, v in _METRIC_RE.findall(
                p.metrics().toString())}
            if m:
                nodes.append([name, m])
            if name == "BroadcastExchange":
                counts["exec.broadcast_bytes"] += m.get("dataSize", 0)
            if name.startswith("Scan "):
                # bytes of the files the scan selected; the stages'
                # inputBytes misses most parquet reads
                counts["exec.input_bytes"] += m.get("filesSize", 0)
            counts["exec.python_bytes"] += (m.get("pythonDataSent", 0)
                                            + m.get("pythonDataReceived", 0))
            for seq in (p.children(), p.subqueries()):
                for i in range(seq.size()):
                    stack.append(seq.apply(i))
        return nodes

    def _jobs(self, group: str, phase: str, counts, jsc) -> list[dict]:
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append({"name": f"job.{phase}",
                              "start": sub.get().getTime() / 1000.0 - self.offset,
                              "end": done.get().getTime() / 1000.0 - self.offset})
            counts["exec.jobs"] += 1
            if phase == "construct":
                counts["construct.eager_jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                for s in _seq(store.stageData(sids.apply(i), False, no_status,
                                              False, no_quantiles)):
                    if s.status().toString() == "SKIPPED":
                        counts["exec.stages_skipped"] += 1
                        continue
                    counts["exec.stages"] += 1
                    counts["exec.tasks"] += s.numTasks()
                    counts["exec.task_run_ms"] += s.executorRunTime()
                    counts["exec.task_cpu_ms"] += s.executorCpuTime() / 1e6
                    counts["exec.gc_ms"] += s.jvmGcTime()
                    counts["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
                    counts["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
                    counts["exec.spill_bytes"] += s.diskBytesSpilled()
        return _merge(spans)

    def _record(self, op_id, op_span, jvm_spans, counts, info, plans) -> dict:
        mine = [s for s in self.spans if s["op"] == op_id]
        for j in jvm_spans:
            mid = (j["start"] + j["end"]) / 2
            holders = [s for s in mine if s["start"] <= mid <= s["end"]]
            parent = (max(holders, key=lambda s: (s["start"], -s["end"]))
                      if holders else op_span)
            j.update(id=len(self.spans), op=op_id, parent=parent["id"],
                     start=max(j["start"], parent["start"]),
                     end=min(j["end"], parent["end"]))
            self.spans.append(j)
            mine.append(j)
        selfs = self_times(mine)
        layer: dict[str, float] = defaultdict(float)
        for s in mine:
            metric = SELF_METRIC.get(s["name"])
            if metric is not None:
                layer[metric] += selfs[s["id"]] * 1000.0
        wall = (op_span["end"] - op_span["start"]) * 1000.0
        construct = [s for s in mine if s["name"] == "construct"]
        action = [s for s in mine if s["name"] == "action"]
        rec = {"op": op_id, **info, "wall_ms": wall,
               "construct.ms": sum((s["end"] - s["start"]) * 1000.0
                                   for s in construct),
               "exec.action_ms": sum((s["end"] - s["start"]) * 1000.0
                                     for s in action),
               "self": dict(layer), "counts": dict(counts), "plans": plans}
        self.records.append(rec)
        return rec

    # ----------------------------------------------------------- output
    def metrics(self, pass_s: float, op_geomean_ms: float,
                storage: dict) -> dict[str, float]:
        """Per-layer metrics: per-op means of the op records, pooled
        ratios, and the trace's own bookkeeping."""
        recs = self.records
        n = len(recs)

        def total(key: str) -> float:
            return sum(r["counts"].get(key, 0.0) for r in recs)

        def mean_self(metric: str) -> float:
            return sum(r["self"].get(metric, 0.0) for r in recs) / n

        out: dict[str, float] = {}
        for metric in sorted(set(SELF_METRIC.values())):
            out[metric] = mean_self(metric)
        for key in ("session.py4j_calls", "catalog.governed_reads",
                    "catalog.load_table_calls", "construct.eager_jobs",
                    "exec.jobs", "exec.stages", "exec.stages_skipped",
                    "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
                    "exec.gc_ms", "audit.records", "audit.callback_ms"):
            out[key] = total(key) / n
        for key in ("input", "shuffle_write", "shuffle_read", "spill",
                    "broadcast", "python"):
            out[f"exec.{key}_mb"] = total(f"exec.{key}_bytes") / MB / n
        calls = total("catalog.register_calls")
        out["catalog.register_skip_ratio"] = (
            total("catalog.register_skips") / calls if calls else 0.0)
        loads = total("catalog.load_table_calls")
        out["catalog.table_memo_hit_ratio"] = (
            total("catalog.table_memo_hits") / loads if loads else 0.0)
        out["construct.ms"] = sum(r["construct.ms"] for r in recs) / n
        out["exec.action_ms"] = sum(r["exec.action_ms"] for r in recs) / n
        out["exec.result_rows"] = sum(r.get("rows", 0) for r in recs) / n
        wall_ms = sum(r["wall_ms"] for r in recs)
        out["exec.core_util"] = (total("exec.task_run_ms")
                                 / (wall_ms * self.cores))
        # the self times partition each op's wall by construction; the
        # share that counts is what the named layers claim, without the
        # two leftover buckets
        out["trace.selftime_share"] = sum(
            v for r in recs for k, v in r["self"].items()
            if k not in LEFTOVER) / wall_ms
        out["trace.pass_s"] = pass_s
        out["trace.op_geomean_ms"] = op_geomean_ms
        out.update(storage)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.records}, fh)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _merge(spans: list[dict]) -> list[dict]:
    """Union of overlapping job spans: concurrent jobs keep one executor
    interval busy once, not twice."""
    out: list[dict] = []
    for s in sorted(spans, key=lambda s: s["start"]):
        if out and s["start"] <= out[-1]["end"]:
            out[-1]["end"] = max(out[-1]["end"], s["end"])
        else:
            out.append(dict(s))
    return out
