"""Output checks.  Each raises :class:`CheckFailed` on a mismatch, which
fails the run (``"correct": false``).

The expected values come from code that shares nothing with the engine's
distributed paths: the brute-force pandas oracle in
``feature_store_spark.pipeline.oracle``, plain per-row loops for trailing
windows, and a Python union-find for connected components.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from feature_store_spark.pipeline.oracle import oracle_asof, oracle_image_features

TIEBREAK = ["phash", "caption"]


class CheckFailed(AssertionError):
    pass


def require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def no_leakage(df, ts_col: str, obs_col: str, what: str) -> None:
    """Zero leakage: no row carries a feature newer than its observation."""
    bad = df.where(F.col(ts_col) > F.col(obs_col)).count()
    require(bad == 0, f"{what}: {bad} rows with {ts_col} > {obs_col}")


def sample_entities(images: pd.DataFrame, seed: int, k: int) -> list[str]:
    """Deterministic entity sample: the hottest entity plus ``k - 1`` drawn
    by seed from the rest."""
    counts = images["image_id"].value_counts()
    rest = sorted(counts.index[1:])
    rng = np.random.default_rng([seed, 11])
    pick = rng.choice(len(rest), size=min(k - 1, len(rest)), replace=False)
    return [counts.index[0], *sorted(rest[i] for i in pick)]


def _ts(s: pd.Series) -> pd.Series:
    return pd.to_datetime(s).astype("datetime64[us]")


def _compare(engine: pd.DataFrame, expected: pd.DataFrame, cols: list[str],
             what: str) -> None:
    keys = ["image_id", "obs_time"]
    require(len(engine) == len(expected),
            f"{what}: {len(engine)} rows, oracle has {len(expected)}")
    e = engine.assign(obs_time=_ts(engine["obs_time"])).sort_values(
        keys, kind="stable").reset_index(drop=True)
    x = expected.assign(obs_time=_ts(expected["obs_time"])).sort_values(
        keys, kind="stable").reset_index(drop=True)
    require((e["image_id"] == x["image_id"]).all()
            and (e["obs_time"] == x["obs_time"]).all(),
            f"{what}: observation spine differs from the oracle's")
    for c in cols:
        a, b = e[c], x[c]
        if pd.api.types.is_datetime64_any_dtype(b) or c.endswith("_ts") \
                or c.endswith("_time"):
            a, b = _ts(a), _ts(b)
            same = (a == b) | (a.isna() & b.isna())
        elif pd.api.types.is_numeric_dtype(b) or pd.api.types.is_numeric_dtype(a):
            av = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
            bv = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
            same = pd.Series(np.isclose(av, bv, rtol=1e-9, atol=1e-9,
                                        equal_nan=True))
        else:
            same = (a == b) | (a.isna() & b.isna())
        if not same.all():
            i = int(np.flatnonzero(~same.to_numpy())[0])
            raise CheckFailed(
                f"{what}: column {c} differs from the oracle at "
                f"{e.loc[i, 'image_id']} {e.loc[i, 'obs_time']}: "
                f"engine {a.iloc[i]!r}, oracle {b.iloc[i]!r}"
            )


def _oracle_latest(images: pd.DataFrame, obs: pd.DataFrame,
                   cols: list[str]) -> pd.DataFrame:
    decoded = oracle_image_features(images)
    return oracle_asof(obs, decoded, on="image_id", obs_time="obs_time",
                       feature_time="event_time", feature_cols=cols,
                       tiebreak=TIEBREAK)


def training_parity(train_df, images: pd.DataFrame, obs: pd.DataFrame,
                    entities: list[str], windows: list[tuple[str, str, str]]
                    ) -> None:
    """The training frame against the oracle for ``entities``: latest
    features by ``oracle_asof`` over ``oracle_image_features``, trailing
    ``count``/``avg`` windows by a per-observation loop.  ``windows`` lists
    (output column, agg, duration in days as ``"<n>d"``)."""
    img = images[images["image_id"].isin(entities)].reset_index(drop=True)
    ob = obs[obs["image_id"].isin(entities)].reset_index(drop=True)
    exp = _oracle_latest(img, ob, ["phash", "mean_r", "mean_g", "mean_b"])
    exp["phash_f"] = exp["phash"]
    exp["brightness"] = (exp["mean_r"].astype(float) + exp["mean_g"].astype(float)
                         + exp["mean_b"].astype(float)) / 3
    exp["feat_time"] = exp["feature_ts"]
    dec = oracle_image_features(img)
    by_ent = {k: g for k, g in dec.groupby("image_id")}
    for name, agg, window in windows:
        span = pd.Timedelta(days=int(window.rstrip("d")))
        vals = []
        for _, row in exp.iterrows():
            g = by_ent.get(row["image_id"])
            if g is None:
                vals.append(0 if agg == "count" else np.nan)
                continue
            sel = g[(g["event_time"] >= row["obs_time"] - span)
                    & (g["event_time"] <= row["obs_time"])]["mean_r"]
            vals.append(len(sel) if agg == "count" else
                        (sel.mean() if len(sel) else np.nan))
        exp[name] = vals
    cols = ["phash_f", "brightness", "feat_time", *[w[0] for w in windows]]
    got = train_df.where(F.col("image_id").isin(entities)).select(
        "image_id", "obs_time", *cols).toPandas()
    _compare(got, exp, cols, "training frame")


def materialized_parity(mat_df, images: pd.DataFrame, obs: pd.DataFrame,
                        entities: list[str]) -> None:
    """The incrementally materialized frame against the oracle's latest
    decoded features for ``entities``."""
    img = images[images["image_id"].isin(entities)].reset_index(drop=True)
    ob = obs[obs["image_id"].isin(entities)].reset_index(drop=True)
    cols = ["phash", "mean_r", "std_b"]
    exp = _oracle_latest(img, ob, cols)
    got = mat_df.where(F.col("image_id").isin(entities)).select(
        "image_id", "obs_time", "feature_ts", *cols).toPandas()
    _compare(got, exp, ["feature_ts", *cols], "materialized frame")


def one_row_per_observation(out_df, streamed: pd.DataFrame) -> None:
    """The stream output holds exactly the streamed observations, once."""
    got = out_df.select("image_id", "obs_time").toPandas()
    key = ["image_id", "obs_time"]
    a = got.assign(obs_time=_ts(got["obs_time"])).value_counts(key)
    b = streamed.assign(obs_time=_ts(streamed["obs_time"])).value_counts(key)
    require(len(got) == len(streamed),
            f"stream output: {len(got)} rows for {len(streamed)} observations")
    require(a.sort_index().equals(b.sort_index()),
            "stream output: rows differ from the streamed observations")


def cold_keys_get_defaults(served: pd.DataFrame, cold: set[str],
                           defaults: dict) -> None:
    rows = served[served["image_id"].isin(cold)]
    for col, val in defaults.items():
        require((rows[col] == val).all(),
                f"serving: cold keys not filled with the {col} default {val!r}")


def union_find_labels(nodes: list[int], edges: list[tuple[int, int]]
                      ) -> dict[int, int]:
    """Component label (minimum member id) per node."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def clusters_match_union_find(clusters: list, edges: list[tuple[int, int]]
                              ) -> None:
    """``dup_clusters`` rows ``(doc_id, cluster_id, cluster_size, ...)``
    equal a union-find over the same edges."""
    want = union_find_labels([r["doc_id"] for r in clusters], edges)
    sizes: dict[int, int] = {}
    for lbl in want.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    for r in clusters:
        lbl = want[r["doc_id"]]
        require(r["cluster_id"] == lbl,
                f"dup_clusters: doc {r['doc_id']} labelled {r['cluster_id']}, "
                f"union-find says {lbl}")
        require(r["cluster_size"] == sizes[lbl],
                f"dup_clusters: cluster {lbl} size {r['cluster_size']}, "
                f"union-find says {sizes[lbl]}")
