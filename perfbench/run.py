"""bears_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload text --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run in a checkout generates the
input and references under ``perfbench/.cache`` (excluded from every timed
figure); each run then starts a fresh measured process that sets up a Spark
session, runs one cold pass and then about ``--seconds`` of warm passes, and
prints one JSON line last.
``--trace 1`` alternates traced and untraced warm passes, prints the
per-layer metrics and writes the spans to ``perfbench/.cache/traces``.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path[:0] = [ROOT, HERE]

WORKLOADS = ("text", "ingest_feed")
SCALE = 0.005  # of the generated relational tables; 1.0 ~ 6M lineitem rows
TEXT_SCALE = 0.02  # of documents and embeddings: 1,000 documents
# Warm passes per run = --seconds // the workload's nominal warm pass time
# on a 4-core host, at least one (and one of each kind when traced). A fixed
# count, rather than "until --seconds have passed", keeps the median over the
# same passes however fast the host happens to be.
NOMINAL_PASS_S = {"text": 8.0, "ingest_feed": 10.0}
CHILD_TIMEOUT_S = 170
DRIVER_MEM = "4g"

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_p90_s": "s", "driver_peak_rss_mb": "MB",
}
PER_LAYER = [
    "session.start_s", "session.warmup_s",
    "queries.build_s", "queries.build_jobs", "queries.py4j_calls",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_span_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.scan_bytes", "spark.scan_tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.result_bytes",
    "spark.python_stage_s", "driver.gap_s",
    "caching.scoped_persists", "caching.cached_bytes",
    "pipeline.fit_s", "pipeline.fit_jobs",
    "stream.collect_s", "stream.batches", "stream.rows", "stream.consumer_s",
    "stream.map_distributed_s",
    "io.read_s", "snapshot_table.commit_s.overwrite", "snapshot_table.commit_s.append",
    "snapshot_table.commit_s.delete_cow", "snapshot_table.commit_s.delete_mor",
    "snapshot_table.commit_s.merge", "snapshot_table.files_added",
    "snapshot_table.files_removed", "snapshot_table.log_bytes",
    "incremental_view.refresh_s",
    "feed.first_batch_s", "feed.rows_per_s", "feed.batch_wait_p99_s",
    "feed.write_bytes_per_input_byte",
    "trace.pass_s", "trace.overhead_s",
]


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or ".commit_s." in name:
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "ratio" if name.endswith("per_input_byte") else "count"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# inputs and references (never timed)


def data_dir() -> str:
    return os.path.join(CACHE, "data", f"sf{SCALE}-text{TEXT_SCALE}")


def _ensure_input() -> None:
    from gen import generate

    out = data_dir()
    if os.path.exists(os.path.join(out, "_READY")):
        return
    tmp = f"{out}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    log(f"generating the input at scale {SCALE}, text scale {TEXT_SCALE}")
    generate(tmp, SCALE, TEXT_SCALE)
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def _ref_path(workload: str, seed: int) -> str:
    from refs import fingerprint

    # text results depend on the input only; ingest_feed's on the seed too
    key = f"{workload}-{fingerprint(data_dir())}" + (f"-s{seed}" if workload == "ingest_feed" else "")
    return os.path.join(CACHE, "refs", f"{key}.json")


def _build_ref(workload: str, seed: int) -> dict:
    import duckdb

    import ops
    from refs import duckdb_views

    import __spark_entry__ as entry
    from bears_spark.queries.tables import TABLE_NAMES

    con = duckdb.connect()
    duckdb_views(con, data_dir(), TABLE_NAMES)
    if workload == "ingest_feed":
        return ops.ingest_reference(con, ops.ingest_params(seed, ops.n_orders(data_dir())))
    oracles = entry.oracle_sql()
    return {q: ops.query_reference(con, oracles[q]) for q in ops.TEXT}


def prepare(workload: str, seed: int) -> None:
    """The input and the workload's references."""
    from refs import load_or_build

    os.makedirs(os.path.join(CACHE, "refs"), exist_ok=True)
    _ensure_input()
    load_or_build(_ref_path(workload, seed), lambda: _build_ref(workload, seed))


# --------------------------------------------------------------------------
# the measured process


def _session():
    from bears_spark.session import get_session

    spark = get_session(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEM,
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_ticks() -> list[int]:
    """The machine's aggregate CPU counters (/proc/stat), for the steal share."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _peak_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Runner:
    """Runs passes of one workload and keeps every measurement."""

    def __init__(self, workload: str, seed: int, spark):
        import __spark_entry__ as entry
        import ops
        self.workload, self.seed, self.spark = workload, seed, spark
        self.ops_mod = ops
        self.queries = entry.queries()
        with open(_ref_path(workload, seed)) as f:
            self.refs = json.load(f)
        self.params = None
        if workload == "ingest_feed":
            self.params = ops.ingest_params(seed, ops.n_orders(data_dir()))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run_pass(self, pass_no: int, tracer) -> dict:
        """One pass in a seed-permuted order; returns its measurements."""
        import numpy as np

        from bears_spark.caching import release_scoped_caches
        from layers import cached_bytes

        rng = np.random.default_rng([abs(self.seed), pass_no + 1])
        ctx = SimpleNamespace(
            spark=self.spark, queries=self.queries, data_dir=data_dir(),
            refs=self.refs, params=self.params,
        )
        ingest = None
        if self.workload == "ingest_feed":
            ingest = self.ops_mod.IngestPass(ctx, os.environ["TMPDIR"])
            seq = ingest.ops(rng)
        else:
            names = list(self.ops_mod.TEXT)
            rng.shuffle(names)
            seq = [(n, lambda tr, oc, n=n: self.ops_mod.run_query(ctx, tr, n, oc)) for n in names]
        lat: dict[str, float] = {}
        extra: dict[str, float] = {}
        t_pass = time.perf_counter()
        try:
            for name, fn in seq:
                t0 = time.perf_counter()
                ok = False
                try:
                    with tracer.op(self.workload, pass_no, name) as oc:
                        ok = bool(fn(tracer, oc))
                except Exception as exc:  # one failed operation never ends the run
                    log(f"{name} failed: {type(exc).__name__}: {str(exc)[:300]}")
                lat[name] = time.perf_counter() - t0
                held = cached_bytes(self.spark.sparkContext) if tracer.enabled else 0.0
                released = release_scoped_caches()
                if tracer.enabled:
                    tracer.ops[-1]["caching.cached_bytes"] = held
                    tracer.ops[-1]["caching.scoped_persists"] = float(released)
                self.attempted += 1
                if not ok:
                    self.failed += 1
                    self.failures.append(f"pass{pass_no}:{name}")
            wall = time.perf_counter() - t_pass
            if ingest is not None:
                extra.update({f"feed.{k}": v for k, v in ingest.feed.items()})
                extra["feed.write_bytes_per_input_byte"] = ingest.write_ratio()
                extra["snapshot_table.log_bytes"] = ingest.log_bytes()
        finally:
            if ingest is not None:
                ingest.close()
        return {"wall": wall, "lat": lat, "extra": extra}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def child(args) -> int:
    from layers import Tracer

    spark = _session()
    start_s = time.perf_counter() - T_START
    # ready = executors up (one trivial job) and the references loaded
    t0 = time.perf_counter()
    spark.range(1).collect()
    warm_s = time.perf_counter() - t0
    runner = Runner(args.workload, args.seed, spark)
    setup_s = time.perf_counter() - T_START

    ticks0 = _cpu_ticks()
    cold = runner.run_pass(0, Tracer(spark, False))
    passes: list[dict] = []
    traced: list[tuple[dict, Tracer]] = []
    n_warm = max(1, int(args.seconds // NOMINAL_PASS_S[args.workload]))
    kinds = [False] * n_warm
    if args.trace:
        # untraced/traced pairs in ABBA order, so the still-warming trend
        # of the first passes cancels out of the tracing overhead
        kinds = [k for i in range(max(2, n_warm)) for k in ((False, True), (True, False))[i % 2]]
    for pass_no, trace_this in enumerate(kinds, 1):
        tr = Tracer(spark, trace_this)
        res = runner.run_pass(pass_no, tr)
        tr.close()
        (traced.append((res, tr)) if trace_this else passes.append(res))

    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    # each operation's median over the warm passes, so a percentile moves
    # only when an operation's own latency moves
    op_med = [_median([p["lat"][n] for p in passes]) for n in passes[0]["lat"]]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall"],
        "pass_s": _median([p["wall"] for p in passes]),
        "op_p50_s": _pct(op_med, 50),
        "op_p90_s": _pct(op_med, 90),
        "driver_peak_rss_mb": _peak_rss_mb(),
    }
    from refs import fingerprint

    detail = {
        "workload": args.workload, "seed": args.seed,
        "input_scale": SCALE, "input_fingerprint": fingerprint(data_dir()),
        "error_rate": runner.failed / max(runner.attempted, 1),
        # share of the machine's CPU time its host took away while the
        # passes ran: a high value explains a slow run
        "host_steal_share": ticks[7] / max(sum(ticks), 1),
        "failures": runner.failures, "passes": len(passes), "op_samples": len(passes) * len(op_med),
        "pass_walls_s": [p["wall"] for p in passes],
        "op_median_s": dict(zip(passes[0]["lat"], op_med)),
        "cold_op_s": cold["lat"],
        "feed": {k: _median([p["extra"].get(k, 0.0) for p in passes])
                 for k in ("feed.first_batch_s", "feed.rows_per_s", "feed.batch_wait_p99_s",
                           "feed.write_bytes_per_input_byte")},
        **e2e,
    }
    if args.trace:
        metrics = _layer_metrics(traced, passes, start_s, warm_s)
        detail["trace_file"] = _dump_trace(args, traced, detail)
        out = {k: {"value": metrics[k], "unit": _unit(k)} for k in PER_LAYER}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    spark.stop()
    print("detail " + json.dumps(detail, sort_keys=True), flush=True)
    print(json.dumps({
        "correct": runner.failed == 0, "attempted": runner.attempted,
        "failed": runner.failed, "metrics": out,
    }), flush=True)
    return 0


def _layer_metrics(traced, passes, start_s, warm_s) -> dict:
    """Per traced pass, each op-level metric summed over its operations;
    reported as the median over traced passes."""
    per_pass = []
    for res, tr in traced:
        tot = dict(res["extra"])
        for rec in tr.ops:
            for k, v in rec.items():
                if isinstance(v, float) and k in PER_LAYER:
                    tot[k] = tot.get(k, 0.0) + v
        tot["trace.pass_s"] = res["wall"]
        per_pass.append(tot)
    m = {k: _median([p.get(k, 0.0) for p in per_pass]) for k in PER_LAYER}
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warm_s
    m["trace.overhead_s"] = m["trace.pass_s"] - _median([p["wall"] for p in passes])
    return m


def _dump_trace(args, traced, detail) -> str:
    d = os.path.join(CACHE, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}.json")
    doc = {
        "detail": detail,
        "passes": [{
            "wall_s": res["wall"], "extra": res["extra"], "ops": tr.ops,
            "self_times_s": tr.self_times(), "spans": tr.spans,
        } for res, tr in traced],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    return os.path.relpath(path, ROOT)


# --------------------------------------------------------------------------
# launcher


def _env() -> dict:
    env = dict(os.environ)
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # every JVM (the spark-submit launcher too): temp files in the
        # checkout, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local", str(os.getpid())),
        "PYTHONUNBUFFERED": "1",
    })
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _run(cmd: list[str], env: dict, timeout: float) -> int:
    """Run ``cmd`` in its own process group and return its exit code once
    every process of the group (the JVM included) has ended; kill the whole
    group on timeout or interrupt, or if it outlives its leader by 10 s."""
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout)
        deadline = time.monotonic() + 10
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _group_alive(proc.pid):
            os.killpg(proc.pid, signal.SIGKILL)
        return rc
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stage", choices=("launch", "prepare", "measure"), default="launch",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    missing = [p for p in ("bears_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"not a bears_spark checkout: missing {', '.join(missing)} under {ROOT}")
        return 2
    if args.stage == "prepare":
        prepare(args.workload, args.seed)
        return 0
    if args.stage == "measure":
        return child(args)
    # a terminated launcher takes its process groups down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = _env()
    base = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    try:
        rc = _run(base + ["--stage", "prepare"], env, 900)
        if rc != 0:
            log(f"input preparation failed (exit {rc})")
            return rc
        return _run(base + ["--stage", "measure"], env, CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("measured process timed out")
        return 3
    finally:
        shutil.rmtree(env["SPARK_LOCAL_DIRS"], ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
