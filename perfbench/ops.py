"""The benchmark's workloads, as operations on bears_spark's public API.

An operation runs from its call through the last row of its result
materialized (``toPandas`` or a full write) and checked against a reference;
it returns True when the result matches. ``text`` runs named queries from
``__spark_entry__.queries()``; ``ingest_feed`` is a fit / commit / refresh /
stream / map sequence over one lineitem copy.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time
from datetime import datetime, timedelta

import numpy as np

from refs import digest

# A subset of the text operations, sized so that a run (JVM start, cold
# pass, warm passes) fits the benchmark's time budget; README.md lists the
# ones left out.
TEXT = [
    "text_stats",
    "tfidf_cosine_pairs",
    "ann_ivfpq_topk",
    "doc_bm25_topk",
    "pipeline_quality_gate",
]

NUMERIC = ["l_quantity", "l_extendedprice"]
CATEGORICAL = ["l_returnflag", "l_shipyear"]
SUM_COLS = ["l_quantity", "l_extendedprice"]
BATCH_ROWS = 1024
# l_key = l_orderkey * KEY_STRIDE + l_linenumber, unique while an order has
# fewer lines than the stride (the generated input stays below 20)
KEY_STRIDE = 64
COMMITS = ["overwrite", "append", "delete_cow", "delete_mor", "merge"]
# the view is built after the first commit and refreshed incrementally
# across the other four after the last
REFRESH_AFTER = ("overwrite", "merge")


# --------------------------------------------------------------------------
# text


def query_reference(con, oracle_sql: str) -> dict:
    return digest(con.sql(oracle_sql).df())


def run_query(ctx, tr, name: str, opctx: dict) -> bool:
    fn = ctx.queries[name]
    with tr.build():
        df = fn(ctx.spark, ctx.data_dir)
    opctx["df"] = df
    with tr.span("materialize"):
        pdf = df.toPandas()
    with tr.span("check"):
        return digest(pdf) == ctx.refs[name]


# --------------------------------------------------------------------------
# ingest_feed


def ingest_params(seed: int, n_orders: int) -> dict:
    """Every seeded parameter of an ingest_feed pass."""
    rng = np.random.default_rng(seed)
    cut = datetime(1996, 1, 1) + timedelta(days=int(rng.integers(0, 1461)))
    return {
        "cut": cut.strftime("%Y-%m-%d"),
        "key_hi": int(n_orders * float(rng.uniform(0.90, 0.97))),
        "tax": float(int(rng.integers(0, 9)) / 100.0),
        "merge_mod": 97,
        "merge_salt": int(rng.integers(0, 97)),
        "rank": seed % 2,
        "stream_seed": seed,
    }


def n_orders(data_dir: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(data_dir, "orders.parquet"), format="parquet").count_rows()


_MERGE_COND = "(l_key * 7919 + {salt}) % {mod} = 0"


def ingest_reference(con, p: dict) -> dict:
    """DuckDB replay of one pass's mutations: table state after each commit,
    the view after each refresh, the stream shard and the pipeline fit."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE src AS SELECT *, l_orderkey * {KEY_STRIDE} + l_linenumber AS l_key, "
                "CAST(year(l_shipdate) AS VARCHAR) AS l_shipyear FROM lineitem")
    merge = _MERGE_COND.format(salt=p["merge_salt"], mod=p["merge_mod"])
    stages = [
        f"SELECT * FROM src WHERE l_shipdate < TIMESTAMP '{p['cut']}'",
        "SELECT * FROM src",
        f"SELECT * FROM t WHERE NOT (l_orderkey >= {p['key_hi']})",
        f"SELECT * FROM t WHERE NOT (l_tax = {p['tax']})",
        f"SELECT * FROM t WHERE l_key NOT IN (SELECT l_key FROM src WHERE {merge}) "
        f"UNION ALL SELECT * REPLACE (l_quantity + 1 AS l_quantity) FROM src WHERE {merge}",
    ]
    ref: dict = {"counts": [], "views": []}
    for sql in stages:
        con.execute(f"CREATE OR REPLACE TEMP TABLE t AS {sql}")
        ref["counts"].append(con.sql("SELECT count(*) FROM t").fetchone()[0])
        ref["views"].append(_view_rows(con.sql(
            "SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS q, sum(l_extendedprice) AS p "
            "FROM t GROUP BY l_returnflag").fetchall()))
    n, q = con.sql(f"SELECT count(*), sum(l_quantity) FROM t WHERE l_orderkey % 2 = {p['rank']}").fetchone()
    ref["shard"] = {"rows": int(n), "qty": float(q)}
    n, q = con.sql("SELECT count(*), sum(l_quantity) FROM t").fetchone()
    ref["final"] = {"rows": int(n), "qty": float(q)}
    ref["fit"] = {
        c: list(con.sql(f"SELECT avg({c}), stddev_pop({c}) FROM src").fetchone()) for c in NUMERIC
    }
    ref["labels"] = {
        c: sorted(r[0] for r in con.sql(f"SELECT DISTINCT CAST({c} AS VARCHAR) FROM src").fetchall())
        for c in CATEGORICAL
    }
    return ref


def _view_rows(rows) -> list:
    return sorted([str(g), int(n), round(float(q), 2), round(float(pr), 2)] for g, n, q, pr in rows)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


class IngestPass:
    """State of one ingest_feed pass on a fresh table root."""

    def __init__(self, ctx, root_parent: str):
        self.ctx = ctx
        self.p = ctx.params
        self.root = tempfile.mkdtemp(prefix="ingest_", dir=root_parent)
        self.features = None
        self.table = None
        self.view = None
        self.commit_no = 0
        self.committed_bytes = 0
        self.feed: dict = {}

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def ops(self, rng) -> list[tuple[str, callable]]:
        seq = [("fit", self.fit)]
        for i, kind in enumerate(COMMITS):
            seq.append((f"commit.{kind}", lambda tr, oc, k=kind: self.commit(tr, oc, k)))
            if kind in REFRESH_AFTER:
                seq.append((f"refresh.{i + 1}", self.refresh))
        tail = [("stream", self.stream), ("map", self.map)]
        rng.shuffle(tail)
        return seq + tail

    # -- operations ----------------------------------------------------------
    def fit(self, tr, opctx) -> bool:
        from pyspark.sql import functions as F

        from bears_spark.io.reader import read
        from bears_spark.pipeline import DataPipeline, PipelineStepConfig

        spark = self.ctx.spark
        with tr.span("io.read"):
            t0 = time.perf_counter()
            src = read(os.path.join(self.ctx.data_dir, "lineitem.parquet"), file_format="parquet").df
            tr.add("io.read_s", time.perf_counter() - t0)
        src = src.withColumn("l_key", F.col("l_orderkey") * KEY_STRIDE + F.col("l_linenumber")).withColumn(
            "l_shipyear", F.year("l_shipdate").cast("string"))
        pipe = DataPipeline([
            PipelineStepConfig(input=NUMERIC, transformer="imputer", output="{col_name}"),
            PipelineStepConfig(input=NUMERIC, transformer="standardscaler", output="{col_name}_z"),
            PipelineStepConfig(input=CATEGORICAL, transformer="labelencoder", output="{col_name}_id"),
        ])
        jobs0 = tr.jobs()
        with tr.span("pipeline.fit_transform"):
            t0 = time.perf_counter()
            self.features = pipe.fit_transform(src)
            tr.add("pipeline.fit_s", time.perf_counter() - t0)
        tr.add("pipeline.fit_jobs", float(tr.jobs() - jobs0))
        # read the fitted state back through transform() of two known rows
        ref = self.ctx.refs
        labels = {c: ref["labels"][c] for c in CATEGORICAL}
        rows = [
            tuple([float(x)] * len(NUMERIC) + [labels[c][-x] for c in CATEGORICAL])
            for x in (0, 1)
        ]
        probe = spark.createDataFrame(rows, [*NUMERIC, *CATEGORICAL])
        out = pipe.transform(probe)
        opctx["df"] = out
        with tr.span("materialize"):
            got = out.toPandas()
        ok = True
        for c in NUMERIC:
            z0, z1 = float(got[f"{c}_z"][0]), float(got[f"{c}_z"][1])
            std = 1.0 / (z1 - z0)
            mean = -z0 * std
            ok &= _close(mean, ref["fit"][c][0]) and _close(std, ref["fit"][c][1])
        for c in CATEGORICAL:
            n = len(labels[c])
            ok &= int(got[f"{c}_id"][0]) == 1 and int(got[f"{c}_id"][1]) == n
        return ok

    def commit(self, tr, opctx, kind: str) -> bool:
        from pyspark.sql import functions as F

        from bears_spark.io.incremental_view import IncrementalAggView
        from bears_spark.io.snapshot_table import SnapshotTable

        p = self.p
        if self.table is None:
            self.table = SnapshotTable(self.ctx.spark, os.path.join(self.root, "table"))
            self.view = IncrementalAggView(
                self.ctx.spark, self.table, os.path.join(self.root, "view"),
                group_cols=["l_returnflag"], sum_cols=SUM_COLS,
            )
        t = self.table
        before = {e.identity(): e for e in t.files()} if self.commit_no else {}
        cut = F.lit(p["cut"]).cast("timestamp")
        t0 = time.perf_counter()
        with tr.span(f"snapshot_table.{kind}"):
            if kind == "overwrite":
                v = t.overwrite(self.features.filter(F.col("l_shipdate") < cut))
            elif kind == "append":
                v = t.append(self.features.filter(F.col("l_shipdate") >= cut))
            elif kind == "delete_cow":
                v = t.delete_where("l_orderkey", ">=", p["key_hi"], mode="cow")
            elif kind == "delete_mor":
                v = t.delete_where("l_tax", "==", p["tax"], mode="mor")
            else:
                cond = F.expr(_MERGE_COND.format(salt=p["merge_salt"], mod=p["merge_mod"]))
                src = self.features.filter(cond).withColumn("l_quantity", F.col("l_quantity") + 1)
                v = t.merge(src, key="l_key")
        tr.add(f"snapshot_table.commit_s.{kind}", time.perf_counter() - t0)
        after = {e.identity(): e for e in t.files()}
        added = [after[i] for i in set(after) - set(before)]
        tr.add("snapshot_table.files_added", float(len(added)))
        tr.add("snapshot_table.files_removed", float(len(set(before) - set(after))))
        if kind in ("overwrite", "append"):
            self.committed_bytes += sum(os.path.getsize(os.path.join(t.path, e.path)) for e in added)
        self.commit_no += 1
        with tr.span("check"):
            return v == self.commit_no and t.count_rows() == self.ctx.refs["counts"][self.commit_no - 1]

    def refresh(self, tr, opctx) -> bool:
        t0 = time.perf_counter()
        with tr.span("incremental_view.refresh"):
            v = self.view.refresh()
        tr.add("incremental_view.refresh_s", time.perf_counter() - t0)
        df = self.view.read()
        opctx["df"] = df
        with tr.span("materialize"):
            pdf = df.toPandas()
        rows = _view_rows(zip(pdf["l_returnflag"], pdf["n_rows"], pdf["l_quantity_sum"], pdf["l_extendedprice_sum"]))
        return v == self.commit_no and rows == self.ctx.refs["views"][self.commit_no - 1]

    def stream(self, tr, opctx) -> bool:
        from bears_spark.stream import shard, stream_frame

        p = self.p
        df = shard(self.table.read(), p["rank"], 2, id_col="l_orderkey")
        sizes: list[int] = []
        waits: list[float] = []
        qty = 0.0
        consumer = 0.0
        t0 = time.perf_counter()
        with tr.span("stream.stream_frame"):
            it = stream_frame(df, num_rows=BATCH_ROWS, shuffle=True, seed=p["stream_seed"])
            last = t0
            for batch in it:
                now = time.perf_counter()
                waits.append(now - last)
                sizes.append(len(batch))
                qty += float(batch["l_quantity"].sum())
                last = time.perf_counter()
                consumer += last - now
        total = time.perf_counter() - t0
        n = sum(sizes)
        self.feed = {
            "first_batch_s": waits[0] if waits else total,
            "rows_per_s": n / total,
            "batch_wait_p99_s": float(np.percentile(waits[1:], 99)) if len(waits) > 1 else 0.0,
        }
        tr.add("stream.collect_s", self.feed["first_batch_s"])
        tr.add("stream.batches", float(len(sizes)))
        tr.add("stream.rows", float(n))
        tr.add("stream.consumer_s", consumer)
        ref = self.ctx.refs["shard"]
        full = sizes[:-1] if sizes else []
        return (
            n == ref["rows"] and _close(qty, ref["qty"])
            and all(s == BATCH_ROWS for s in full) and 0 < sizes[-1] <= BATCH_ROWS
            and len(sizes) == -(-ref["rows"] // BATCH_ROWS)
        )

    def map(self, tr, opctx) -> bool:
        import pandas as pd

        from bears_spark.stream import map_distributed

        def _agg(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({"n": [len(pdf)], "q": [float(pdf["l_quantity"].sum())]})

        t0 = time.perf_counter()
        out = map_distributed(self.table.read(), _agg, "n long, q double").df
        opctx["df"] = out
        with tr.span("materialize"):
            pdf = out.toPandas()
        tr.add("stream.map_distributed_s", time.perf_counter() - t0)
        ref = self.ctx.refs["final"]
        return int(pdf["n"].sum()) == ref["rows"] and _close(float(pdf["q"].sum()), ref["qty"])

    # -- helpers -------------------------------------------------------------
    def write_ratio(self) -> float:
        total = 0
        for base in ("table", "view"):
            for r, _d, files in os.walk(os.path.join(self.root, base)):
                total += sum(os.path.getsize(os.path.join(r, f)) for f in files)
        return total / self.committed_bytes if self.committed_bytes else 0.0

    def log_bytes(self) -> float:
        total = 0
        for r, _d, files in os.walk(os.path.join(self.root, "table")):
            total += sum(os.path.getsize(os.path.join(r, f)) for f in files if not f.endswith(".parquet"))
        return float(total)
