"""Plan-shape regressions for the window operators: the physical plans
these operators were designed around, pinned so a refactor can't silently
reintroduce extra shuffles."""

from __future__ import annotations

import datetime as dt
import re

import pandas as pd
import pyspark.sql.functions as F
import pytest

from feature_store_spark.operators.windows import rolling_at

T0 = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def frames(spark):
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a"] * 5 + ["b"] * 2,
                "t": [T0 + dt.timedelta(hours=h) for h in range(5)]
                + [T0, T0 + dt.timedelta(hours=30)],
                "x": [1.0, 2.0, 3.0, 4.0, 5.0, 10.0, 20.0],
            }
        )
    )
    obs = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "a", "b"],
                "ot": [T0 + dt.timedelta(hours=h) for h in (1, 2, 9)]
                + [T0 + dt.timedelta(hours=20)],
            }
        )
    )
    return obs, ev


def test_rolling_at_single_exchange(spark, frames):
    """Three aggregates over two window durations must compile to ONE
    Exchange + ONE Sort + ONE Window node (same partitioning/ordering —
    Catalyst collapses the frames)."""
    obs, ev = frames
    out = rolling_at(
        obs, ev, "k", "ot", "t",
        {"s1": (F.sum("x"), "1h"), "c1": (F.count("x"), "1h"),
         "s2": (F.sum("x"), "1d")},
    )
    tree = out._jdf.queryExecution().executedPlan().toString().split("\n\n")[0]
    assert len(re.findall(r"Exchange hashpartitioning", tree)) == 1
    assert len(re.findall(r"\bSort \[", tree)) == 1
    assert len(re.findall(r"\bWindow ", tree)) == 1


def test_rolling_at_values(spark, frames):
    obs, ev = frames
    got = (
        rolling_at(
            obs, ev, "k", "ot", "t",
            {"s1": (F.sum("x"), "1h"), "c1": (F.count("x"), "1h"),
             "s2": (F.sum("x"), "1d")},
        )
        .orderBy("k", "ot")
        .toPandas()
    )
    # a@h1: 1h window covers h0,h1 → s1=3; 1d covers both too
    assert got.iloc[0]["s1"] == 3.0 and got.iloc[0]["c1"] == 2
    # a@h9: no event within 1h (last at h4) → sum null, count 0;
    # 1d window still sees h0..h4 → 15
    r = got.iloc[2]
    assert pd.isna(r["s1"]) and r["c1"] == 0 and r["s2"] == 15.0
    # b@h20: 1h window empty (events at h0, h30>obs) → null/0; 1d sees h0
    r = got.iloc[3]
    assert pd.isna(r["s1"]) and r["s2"] == 10.0


def test_rolling_at_rejects_column_collisions(spark, frames):
    obs, ev = frames
    with pytest.raises(ValueError, match="share value columns"):
        rolling_at(obs.withColumn("x", F.lit(1.0)), ev, "k", "ot", "t",
                   {"s1": (F.sum("x"), "1h")})


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_rolling_at_property_vs_bruteforce(spark, seed):
    """Random events/obs: rolling_at equals the per-row brute-force
    definition (sum/count/avg over [obs - window, obs], inclusive)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_ev, n_obs, n_ent = 400, 150, 8
    ev = pd.DataFrame(
        {
            "k": [f"e{int(i)}" for i in rng.integers(0, n_ent, n_ev)],
            "t": [T0 + dt.timedelta(seconds=int(s))
                  for s in rng.integers(0, 3 * 86400, n_ev)],
            "x": np.round(rng.normal(10, 3, n_ev), 3),
        }
    )
    ob = pd.DataFrame(
        {
            "k": [f"e{int(i)}" for i in rng.integers(0, n_ent, n_obs)],
            "ot": [T0 + dt.timedelta(seconds=int(s))
                   for s in rng.integers(0, 4 * 86400, n_obs)],
            "rid": range(n_obs),
        }
    )
    got = (
        rolling_at(
            spark.createDataFrame(ob), spark.createDataFrame(ev),
            "k", "ot", "t",
            {"s1h": (F.sum("x"), "1h"), "c1h": (F.count("x"), "1h"),
             "a1d": (F.avg("x"), "1d")},
        )
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    assert len(got) == n_obs
    for _, r in got.iterrows():
        e = ev[ev.k == r.k]
        for name, win_s, agg in [("s1h", 3600, "sum"), ("c1h", 3600, "count"),
                                 ("a1d", 86400, "avg")]:
            lo = r.ot - dt.timedelta(seconds=win_s)
            sel = e[(e.t >= lo) & (e.t <= r.ot)]["x"]
            if agg == "count":
                assert r[name] == len(sel), (r.rid, name)
            elif len(sel) == 0:
                assert pd.isna(r[name]), (r.rid, name)
            elif agg == "sum":
                assert abs(r[name] - sel.sum()) < 1e-9, (r.rid, name)
            else:
                assert abs(r[name] - sel.mean()) < 1e-9, (r.rid, name)


def test_grouped_topk_salted_equals_window(spark):
    """The skew-safe two-phase top-k (salt → local rank → global rank)
    is exact: identical to the plain single-window ranking at any salt
    count and input partitioning (the global top-k of a group is
    contained in the union of its per-salt top-k)."""
    import numpy as np
    from pyspark.sql import Window

    from feature_store_spark.operators.grouped import grouped_topk

    rng = np.random.default_rng(3)
    n = 2000
    pdf = pd.DataFrame(
        {
            # one hot key owning ~half the rows — the case the salt exists for
            "user_id": np.where(rng.random(n) < 0.5, 7,
                                rng.integers(0, 40, n)),
            "event_id": np.arange(n),
            "value": np.round(rng.random(n) * 10, 3),
        }
    )
    df = spark.createDataFrame(pdf)
    order = [F.col("value").desc(), F.col("event_id").asc()]
    cols = ["user_id", "event_id", "value", "rnk"]
    want = (
        df.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(*order)),
        )
        .where(F.col("rnk") <= 5)
        .toPandas()[cols]
        .sort_values(["user_id", "rnk"])
        .reset_index(drop=True)
    )
    for n_salt, parts in ((4, 3), (16, 17)):
        got = (
            grouped_topk(df.repartition(parts), "user_id", order,
                         k=5, n_salt=n_salt)
            .toPandas()[cols]
            .sort_values(["user_id", "rnk"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want), (n_salt, parts)


def test_grouped_topk_spreads_identical_duplicates(spark):
    """Round-5 ADVICE fix: a hot key made of byte-identical duplicate
    rows must still spread across salt buckets (a content-only salt put
    them all in one, regaining the single-task skew), and the result is
    still an exact top-k (duplicates are interchangeable)."""
    from feature_store_spark.operators.grouped import grouped_topk

    # 4000 identical rows for the hot key + a few distinct cold rows
    hot = spark.range(4000).select(
        F.lit(7).alias("user_id"), F.lit(1.5).alias("value"))
    cold = spark.range(10).select(
        (F.col("id") % 3 + 100).cast("int").alias("user_id"),
        (F.col("id") * 1.0).alias("value"))
    df = hot.unionByName(cold).repartition(8)

    salt = F.pmod(
        F.hash(*[F.col(c) for c in df.columns])
        + F.spark_partition_id(), F.lit(16))
    n_buckets = (
        df.where(F.col("user_id") == 7).select(salt.alias("s"))
        .distinct().count()
    )
    assert n_buckets >= 8  # duplicates spread, not collapsed to one bucket

    got = grouped_topk(df, "user_id", [F.col("value").desc()], k=3,
                       n_salt=16).toPandas()
    hot_rows = got[got.user_id == 7]
    assert len(hot_rows) == 3
    assert (hot_rows.value == 1.5).all()
    assert sorted(hot_rows.rnk) == [1, 2, 3]


def test_grouped_apply_ops(spark):
    """applyInPandas custom ops: z-score parity with pandas, exact quantiles."""
    import numpy as np

    from feature_store_spark.operators.grouped import (
        exact_quantiles,
        zscore_normalize,
    )

    rng = np.random.default_rng(8)
    pdf = pd.DataFrame({
        "entity": [f"e{i % 4}" for i in range(400)],
        "v": rng.normal(10, 3, 400),
    })
    sdf = spark.createDataFrame(pdf)
    z = zscore_normalize(sdf, "entity", "v").toPandas()
    for e, grp in pdf.groupby("entity"):
        want = (grp["v"] - grp["v"].mean()) / grp["v"].std(ddof=0)
        got = z[z.entity == e].set_index(z[z.entity == e]["v"])["zscore"]
        assert np.allclose(sorted(got), sorted(want))
    q = exact_quantiles(sdf, "entity", "v").toPandas().set_index("entity")
    for e, grp in pdf.groupby("entity"):
        assert q.loc[e, "q50"] == pytest.approx(grp["v"].quantile(0.5))
        assert q.loc[e, "n"] == len(grp)
