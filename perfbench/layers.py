"""Per-layer measurement from outside the program.

Spans are recorded by the benchmark around its calls into bears_spark and
kept in memory; the Spark jobs and stages an operation ran are read back
from the driver's application status store by the operation's job group and
attached as child spans. Nothing here runs in an untraced pass: the
``Tracer`` built with ``enabled=False`` only times the operation itself.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

PYTHON_STAGE_MARKERS = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# Metrics summed over the operations of one pass (per_layer names).
SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_span_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.scan_bytes", "spark.scan_tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.result_bytes",
    "spark.python_stage_s",
)


class Py4jCounter:
    """Counts py4j commands sent from this process while ``active``."""

    def __init__(self) -> None:
        self.calls = 0
        self.active = False
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if self.active:
                    self.calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command
            self._patched.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched.clear()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _merged_length(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def spark_layers(sc, group: str) -> tuple[dict, list[dict]]:
    """Job/stage metrics and child spans of every job in ``group``."""
    store = sc._jsc.sc().statusStore()
    graph_cls = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    m = dict.fromkeys(SPARK_KEYS, 0.0)
    spans: list[dict] = []
    job_spans = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        js, je = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if js is not None and je is not None:
            job_spans.append((js, je))
            spans.append({"name": f"job{jid}", "start": js, "end": je, "kind": "spark.job"})
        m["spark.jobs"] += 1
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never ran, nothing recorded
                continue
            if str(st.status()) != "COMPLETE":
                continue
            run_s = st.executorRunTime() / 1000.0
            m["spark.stages"] += 1
            m["spark.tasks"] += st.numTasks()
            m["spark.executor_run_s"] += run_s
            m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["spark.gc_s"] += st.jvmGcTime() / 1000.0
            m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["spark.result_bytes"] += st.resultSize()
            if st.inputBytes() > 0:
                m["spark.scan_bytes"] += st.inputBytes()
                m["spark.scan_tasks"] += st.numTasks()
            dot = graph_cls.makeDotFile(store.operationGraphForStage(sid))
            python = any(k in dot for k in PYTHON_STAGE_MARKERS)
            if python:
                m["spark.python_stage_s"] += run_s
            ss, se = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if ss is not None and se is not None:
                spans.append({
                    "name": f"stage{sid}", "start": ss, "end": se, "parent": f"job{jid}",
                    "kind": "spark.python_stage" if python else "spark.stage",
                })
    m["spark.job_span_s"] = _merged_length(job_spans)
    return m, spans


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning times of ``df``'s QueryExecution."""
    out = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0, "catalyst.planning_s": 0.0}
    if df is None or not hasattr(df, "_jdf"):
        return out
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        key = f"catalyst.{kv._1()}_s"
        if key in out:
            out[key] += kv._2().durationMs() / 1000.0
    return out


def cached_bytes(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


class Tracer:
    """Span recorder for one pass. Disabled: ``op`` only times the call.

    Enabled: each operation runs under its own Spark job group; ``span``
    records named child spans; at the end of the operation its Spark jobs
    and stages are read back as child spans and its layer metrics are
    stored in ``self.ops``. Everything stays in memory; run.py writes it
    out once, at exit.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[str] = []
        self._seq = 0
        self._cur: dict | None = None
        self.py4j = Py4jCounter()
        if enabled:
            self.py4j.install()

    def close(self) -> None:
        self.py4j.uninstall()

    @contextmanager
    def span(self, name: str):
        """Child span of the current one; its duration also lands in the
        operation's record as ``span.<name>_s``."""
        if not self.enabled:
            yield
            return
        sid = f"{self._stack[-1]}/{name}" if self._stack else name
        rec = {"name": name, "id": sid, "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)
            if self._cur is not None:
                key = f"span.{name}_s"
                self._cur[key] = self._cur.get(key, 0.0) + rec["end"] - rec["start"]

    def jobs(self) -> int:
        """Jobs the current operation has started so far (0 untraced)."""
        if not self.enabled or self._cur is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def add(self, key: str, value: float) -> None:
        if self.enabled and self._cur is not None:
            self._cur[key] = self._cur.get(key, 0.0) + value

    @contextmanager
    def build(self):
        """The query-function call: build time, py4j calls and the jobs it ran."""
        if not self.enabled:
            yield
            return
        self.py4j.calls, self.py4j.active = 0, True
        t0 = time.perf_counter()
        try:
            with self.span("build"):
                yield
        finally:
            self.py4j.active = False
            self.add("queries.build_s", time.perf_counter() - t0)
            self.add("queries.py4j_calls", float(self.py4j.calls))
            self.add("queries.build_jobs", float(self.jobs()))

    @contextmanager
    def op(self, workload: str, pass_no: int, name: str):
        """One operation: yields a dict the caller fills with ``df`` (the
        materialized frame, for Catalyst phases) before the block ends."""
        ctx: dict = {"df": None}
        if not self.enabled:
            yield ctx
            return
        self._seq += 1
        self._group = f"perfbench-{pass_no}-{self._seq}"
        self.sc.setJobGroup(self._group, f"{workload}:{name}")
        self._cur = {"op": name, "pass": pass_no, "group": self._group}
        t0 = time.time()
        root = f"{name}#{self._seq}"
        self._stack = [root]
        try:
            yield ctx
        finally:
            t1 = time.time()
            self._stack = []
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec = self._cur
            self._cur = None
            self.spans.append({"name": name, "id": root, "parent": None, "start": t0, "end": t1,
                               "kind": "op", "pass": pass_no})
            m, job_spans = spark_layers(self.sc, self._group)
            for s in job_spans:
                s["id"] = f"{root}/{s['name']}"
                s["parent"] = f"{root}/{s['parent']}" if "parent" in s else root
            self.spans.extend(job_spans)
            rec.update(m)
            rec.update(catalyst_phases(ctx.get("df")))
            rec["op_s"] = t1 - t0
            rec["driver.gap_s"] = rec["op_s"] - rec.get("queries.build_s", 0.0) - m["spark.job_span_s"]
            self.ops.append(rec)

    def self_times(self) -> dict:
        """Per span name: total duration minus the part its children cover."""
        kids: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.get("parent"):
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _merged_length([
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in kids.get(s["id"], []) if min(b, s["end"]) > max(a, s["start"])
            ])
            key = s.get("kind", "span") if s.get("kind", "").startswith("spark") else s["name"]
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - covered
        return out
