"""Distributed global prefix aggregates (functions/prefix.py)."""

import pyspark.sql.functions as F
import pytest


def test_partitioned_cumsum_matches_global_window(spark):
    from pyspark.sql import Window

    from bears_spark.functions.prefix import partitioned_cumsum

    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 97).alias("v"), (F.col("id") % 7).cast("double").alias("d")
    )
    out = partitioned_cumsum(df, ["id"], ["v", "d"], num_partitions=8)
    # multiple partitions genuinely participated
    assert out.rdd.getNumPartitions() == 8
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    expected = df.select("id", F.sum("v").over(w).alias("ev"), F.sum("d").over(w).alias("ed"))
    joined = out.join(expected, "id")
    bad = joined.filter((F.col("v_cumsum") != F.col("ev")) | (F.abs(F.col("d_cumsum") - F.col("ed")) > 1e-6))
    assert bad.count() == 0


def test_partitioned_cumsum_empty_and_single_row(spark):
    from bears_spark.functions.prefix import partitioned_cumsum

    empty = spark.range(0).select(F.col("id"), F.lit(1).alias("v"))
    assert partitioned_cumsum(empty, ["id"], ["v"], num_partitions=4).count() == 0
    one = spark.range(1).select(F.col("id"), F.lit(42).alias("v"))
    row = partitioned_cumsum(one, ["id"], ["v"], num_partitions=4).collect()[0]
    assert row["v_cumsum"] == 42


def test_select_until_budget_exact_cut(spark):
    from bears_spark.functions.prefix import select_until_budget

    df = spark.range(100).select(F.col("id"), F.lit(10).alias("cost"))
    out = select_until_budget(df, ["id"], "cost", budget=255, num_partitions=4)
    rows = sorted(r["id"] for r in out.collect())
    # 25 * 10 = 250 <= 255; the 26th would cross
    assert rows == list(range(25))


def test_distributed_row_number_matches_window(spark):
    from pyspark.sql import Window

    from bears_spark.functions.prefix import distributed_row_number

    df = spark.range(5_000).select((F.col("id") * 37 % 4999).alias("k"), F.col("id"))
    out = distributed_row_number(df, ["k", "id"], num_partitions=8)
    w = Window.orderBy("k", "id")
    exp = df.select("k", "id", (F.row_number().over(w) - 1).alias("p"))
    assert out.join(exp, ["k", "id"]).filter(F.col("__pos__") != F.col("p")).count() == 0


def test_iloc_range_distributed(spark):
    from bears_spark.frame import SparkFrame

    sf = SparkFrame(spark.range(1000).select(F.col("id")))
    rows = sorted(r["id"] for r in sf.iloc_range(100, 110, "id").df.collect())
    assert rows == list(range(100, 110))


def test_partitioned_scan_all_fns(spark):
    from pyspark.sql import Window

    from bears_spark.functions.prefix import partitioned_scan

    df = spark.range(3_000).select(
        F.col("id"), ((F.col("id") * 31 + 7) % 100 - 50).alias("v")
    )
    out = partitioned_scan(df, ["id"], {"v": ["sum", "max", "min", "count"]}, num_partitions=6)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    exp = df.select(
        "id",
        F.sum("v").over(w).alias("es"),
        F.max("v").over(w).alias("ex"),
        F.min("v").over(w).alias("en"),
        F.count("v").over(w).alias("ec"),
    )
    j = out.join(exp, "id")
    bad = j.filter(
        (F.col("v_cumsum") != F.col("es"))
        | (F.col("v_cummax") != F.col("ex"))
        | (F.col("v_cummin") != F.col("en"))
        | (F.col("v_cumcount") != F.col("ec"))
    )
    assert bad.count() == 0


def test_partitioned_cumsum_null_carry(spark):
    """A null at a partition/batch tail must not poison the carry: Spark
    window-sum semantics ignore nulls, so rows AFTER a null keep accumulating
    (ADVICE r3: the carry used to become NaN and nullify the rest)."""
    from pyspark.sql import Window

    from bears_spark.functions.prefix import partitioned_cumsum

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        df = spark.range(2_000).select(
            F.col("id"),
            F.when(F.col("id") % 50 == 49, F.lit(None)).otherwise(F.col("id") % 13).alias("v"),
        )
        out = partitioned_cumsum(df, ["id"], ["v"], num_partitions=4)
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        exp = df.select("id", "v", F.sum("v").over(w).alias("ev"))
        j = out.join(exp.drop("v"), "id")
        # null input rows keep pandas-cumsum NaN output; every NON-null row
        # must equal the null-ignoring window sum
        bad = j.filter(F.col("v").isNotNull() & (F.col("v_cumsum") != F.col("ev")))
        assert bad.count() == 0
        all_null_after = j.filter((F.col("id") > 49) & F.col("v").isNotNull() & F.col("v_cumsum").isNull())
        assert all_null_after.count() == 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_partitioned_scan_null_carry(spark):
    from pyspark.sql import Window

    from bears_spark.functions.prefix import partitioned_scan

    df = spark.range(1_000).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 6, F.lit(None)).otherwise((F.col("id") * 31) % 100 - 50).alias("v"),
    )
    out = partitioned_scan(df, ["id"], {"v": ["sum", "max", "count"]}, num_partitions=5)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    exp = df.select(
        "id", "v",
        F.sum("v").over(w).alias("es"),
        F.max("v").over(w).alias("ex"),
        F.count("v").over(w).alias("ec"),
    )
    j = out.join(exp.drop("v"), "id").filter(F.col("v").isNotNull())
    bad = j.filter(
        (F.col("v_cumsum") != F.col("es"))
        | (F.col("v_cummax") != F.col("ex"))
        | (F.col("v_cumcount") != F.col("ec"))
    )
    assert bad.count() == 0


def _module_refs(frames) -> list[str]:
    """Names of bears_spark module globals (or their direct/one-level-nested
    container items) that still reference any of ``frames``."""
    import sys

    ids = {id(f) for f in frames}

    def holds(val, depth=0):
        if id(val) in ids:
            return True
        if depth < 2 and isinstance(val, (list, tuple, set, frozenset)):
            return any(holds(x, depth + 1) for x in val)
        if depth < 2 and isinstance(val, dict):
            return any(holds(x, depth + 1) for x in val.values())
        return False

    return [
        f"{name}.{attr}"
        for name, mod in list(sys.modules.items())
        if name.startswith("bears_spark")
        for attr, val in list(vars(mod).items())
        if holds(val)
    ]


def test_scan_cache_drained_by_registry(spark):
    """Scan caches stay live until drained (chained scans would silently
    corrupt if an earlier scan's boundaries were re-sampled after eviction).
    caching.py is their only registry: release_scoped_caches() unpersists
    every one, and no module of the package keeps a reference afterwards."""
    from bears_spark import caching
    from bears_spark.functions import prefix

    caching.release_scoped_caches()
    spark.catalog.clearCache()  # the emptiness check below sees only this test
    out = spark.range(100).select(F.col("id"), F.lit(1).alias("v"))
    for i in range(3):  # chained: each scan's input is the previous scan
        out = prefix.partitioned_cumsum(out, ["id"], ["v"], num_partitions=2, suffix=f"_c{i}")
    assert out.filter(F.col("v_c2") != F.col("id") + 1).count() == 0
    held = list(caching._SCOPED)
    assert len(held) >= 3  # all retained while live
    assert caching.release_scoped_caches() >= 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _module_refs(held) == []


def test_partitioned_ntile_matches_window(spark):
    from pyspark.sql import Window

    from bears_spark.caching import release_scoped_caches
    from bears_spark.functions.prefix import partitioned_ntile

    df = spark.range(103).select(
        F.col("id"), (F.col("id") * 37 % 11).alias("k"), (F.col("id") % 7).alias("v")
    )
    for nb in (4, 7, 200):  # 200 > rows: degenerate one-row buckets
        out = partitioned_ntile(df, [F.desc("k"), F.asc("id")], nb, out_col="b", num_partitions=8)
        w = Window.orderBy(F.desc("k"), F.asc("id"))
        exp = df.withColumn("b2", F.ntile(nb).over(w))
        bad = out.join(exp, "id").filter(F.col("b") != F.col("b2"))
        assert bad.count() == 0, f"ntile({nb}) mismatch"
    release_scoped_caches()


def test_chained_scans_consistent(spark):
    """Three chained partitioned_ntile calls (the cust_rfm_scores shape) —
    each later scan's plan re-executes the earlier scans; retained caches
    keep every offset table consistent with its boundaries."""
    from pyspark.sql import Window

    from bears_spark.caching import release_scoped_caches
    from bears_spark.functions.prefix import partitioned_ntile

    df = spark.range(500).select(
        F.col("id"),
        (F.col("id") * 13 % 97).alias("a"),
        (F.col("id") * 7 % 31).alias("b"),
    )
    out = partitioned_ntile(df, ["a", "id"], 4, out_col="qa", num_partitions=8)
    out = partitioned_ntile(out, [F.desc("b"), F.asc("id")], 4, out_col="qb", num_partitions=8)
    out = partitioned_ntile(out, [F.desc("a"), F.asc("id")], 3, out_col="qc", num_partitions=8)
    exp = (
        df.withColumn("qa2", F.ntile(4).over(Window.orderBy("a", "id")))
        .withColumn("qb2", F.ntile(4).over(Window.orderBy(F.desc("b"), F.asc("id"))))
        .withColumn("qc2", F.ntile(3).over(Window.orderBy(F.desc("a"), F.asc("id"))))
    )
    bad = out.join(exp, "id").filter(
        (F.col("qa") != F.col("qa2")) | (F.col("qb") != F.col("qb2")) | (F.col("qc") != F.col("qc2"))
    )
    assert bad.count() == 0
    release_scoped_caches()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_frame_partitionless_paths_have_no_window(spark):
    """VERDICT r5 #8: the frame API's partition-less ordered ops must not
    fall back to a one-task global window — every one routes through the
    prefix machinery (range shuffle + offset table / position join)."""
    import pandas as pd

    from bears_spark.frame import SparkFrame
    from bears_spark.caching import release_scoped_caches

    pdf = pd.DataFrame({"t": range(1, 9), "v": [1.0, 3.0, None, 4.0, 2.0, None, 7.0, 5.0]})
    sf = SparkFrame.of(pdf, spark)

    for out in (
        sf.cumagg("t", {"v": ["sum", "max", "count"]}),
        sf.shift("t", ["v"]),
        sf.diff("t", ["v"]),
        sf.pct_change("t", ["v"]),
        sf.rank("v", method="min"),
        sf.rank("v", method="dense"),
        sf.rank("v", method="first"),
        sf.ffill("t", ["v"]),
        sf.bfill("t", ["v"]),
        sf.rolling_agg("t", 3, {"v": ["mean", "sum"]}),
    ):
        plan = _physical(out.df)
        assert "Window" not in plan, plan[:2000]
    release_scoped_caches()


def test_global_rolling_matches_window_form(spark):
    """rolling_agg without partition_by (functions/prefix.global_rolling) is
    value-identical to the one-task window form it replaced, across batch
    and partition boundaries, nulls, and the min_periods gate."""
    import pandas as pd
    from pyspark.sql import Window

    from bears_spark.frame import SparkFrame
    from bears_spark.caching import release_scoped_caches

    vals = [1.0, 3.0, None, 4.0, 2.0, None, 7.0, 5.0, 3.0, 1.0, 8.0, None, 2.0, 6.0]
    pdf = pd.DataFrame({"t": range(len(vals)), "v": vals})
    sf = SparkFrame.of(pdf, spark)
    fns = ["mean", "sum", "min", "max", "count", "std"]
    got = (
        sf.rolling_agg("t", 4, {"v": fns}, min_periods=2)
        .sort_values("t")
        .to_pandas()
        .reset_index(drop=True)
    )
    w = Window.partitionBy().orderBy("t").rowsBetween(-3, 0)
    roll = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "count": F.count, "std": F.stddev_samp}
    exp_df = sf.df
    for fn in fns:
        cnt = F.count(F.col("v")).over(w)
        exp_df = exp_df.withColumn(
            f"exp_{fn}", F.when(cnt >= 2, roll[fn](F.col("v")).over(w))
        )
    exp = exp_df.orderBy("t").toPandas().reset_index(drop=True)
    for fn in fns:
        g, e = got[f"v_rolling_{fn}"], exp[f"exp_{fn}"]
        for i in range(len(vals)):
            gv, ev = g.iloc[i], e.iloc[i]
            if pd.isna(ev):
                assert pd.isna(gv), (fn, i, gv, ev)
            else:
                assert abs(float(gv) - float(ev)) < 1e-9, (fn, i, gv, ev)
    release_scoped_caches()


def test_global_rolling_int_types_and_guards(spark):
    """Integral inputs keep integral sum/min/max/count outputs; oversized
    windows and non-numeric columns are refused with actionable errors."""
    import pandas as pd
    import pytest as _pytest

    from bears_spark.frame import SparkFrame
    from bears_spark.caching import release_scoped_caches
    from bears_spark.functions.prefix import global_rolling

    sf = SparkFrame.of(pd.DataFrame({"t": range(6), "n": [5, 1, 4, 2, 6, 3]}), spark)
    out = sf.rolling_agg("t", 3, {"n": ["sum", "min", "count"]}).sort_values("t")
    dt = dict(out.df.dtypes)
    assert dt["n_rolling_sum"] == "bigint" and dt["n_rolling_min"] == "bigint"
    rows = out.to_pandas()
    assert list(rows["n_rolling_sum"]) == [5, 6, 10, 7, 12, 11]
    assert list(rows["n_rolling_min"]) == [5, 1, 1, 1, 2, 2]
    assert list(rows["n_rolling_count"]) == [1, 2, 3, 3, 3, 3]
    with _pytest.raises(ValueError, match="partition"):
        global_rolling(sf.df, ["t"], {"n": ["sum"]}, window_size=100_000)
    sf2 = SparkFrame.of(pd.DataFrame({"t": [1], "s": ["x"]}), spark)
    with _pytest.raises(TypeError, match="numeric"):
        sf2.rolling_agg("t", 2, {"s": "min"})
    release_scoped_caches()


def test_frame_partitionless_values_match_window_forms(spark):
    """The distributed partition-less paths are byte-identical to the window
    forms they replaced."""
    import pandas as pd

    from bears_spark.frame import SparkFrame
    from bears_spark.caching import release_scoped_caches

    pdf = pd.DataFrame(
        {"t": range(1, 11), "v": [1.0, 3.0, None, 4.0, 2.0, None, 7.0, 5.0, 3.0, 1.0]}
    )
    sf = SparkFrame.of(pdf, spark)

    cum = sf.cumagg("t", {"v": ["sum", "max", "count"]}).sort_values("t").to_pandas()
    exp = pdf.sort_values("t")
    # null input rows keep pandas-cumsum NaN output (the established
    # partitioned_scan contract); non-null rows match the window form
    assert cum["v_cumsum"].equals(exp["v"].cumsum().reset_index(drop=True))
    assert cum["v_cummax"].equals(exp["v"].cummax().reset_index(drop=True))
    assert cum["v_cumcount"].tolist() == exp["v"].notna().cumsum().tolist()

    sh = sf.shift("t", ["v"]).sort_values("t").to_pandas()
    assert sh["v_shift"].equals(exp["v"].shift(1).reset_index(drop=True))
    ld = sf.shift("t", ["v"], periods=-2).sort_values("t").to_pandas()
    assert ld["v_shift"].equals(exp["v"].shift(-2).reset_index(drop=True))

    d = sf.diff("t", ["v"]).sort_values("t").to_pandas()
    assert d["v_diff"].equals(exp["v"].diff().reset_index(drop=True))

    p = sf.pct_change("t", ["v"]).sort_values("t").to_pandas()
    # pandas pct_change ffills by default in older versions; compare to v/prev-1
    prev = exp["v"].shift(1)
    assert p["v_pct_change"].reset_index(drop=True).equals(
        (exp["v"] / prev - 1).reset_index(drop=True)
    )

    # rank min/dense vs pandas (nulls excluded by pandas; Spark window puts
    # null first under asc — assert on the non-null rows plus null handling)
    rmin = sf.rank("v", method="min", out_col="r").sort_values("t").to_pandas()
    rdense = sf.rank("v", method="dense", out_col="r").sort_values("t").to_pandas()
    from pyspark.sql import Window

    wmin = sf.df.withColumn("r2", F.rank().over(Window.orderBy(F.asc("v")))).toPandas()
    wdense = sf.df.withColumn("r2", F.dense_rank().over(Window.orderBy(F.asc("v")))).toPandas()
    m = rmin.merge(wmin[["t", "r2"]], on="t")
    assert (m["r"] == m["r2"]).all()
    md = rdense.merge(wdense[["t", "r2"]], on="t")
    assert (md["r"] == md["r2"]).all()

    ff = sf.ffill("t", ["v"]).sort_values("t").to_pandas()
    assert ff["v"].equals(exp["v"].ffill().reset_index(drop=True))
    bf = sf.bfill("t", ["v"]).sort_values("t").to_pandas()
    assert bf["v"].equals(exp["v"].bfill().reset_index(drop=True))
    release_scoped_caches()
