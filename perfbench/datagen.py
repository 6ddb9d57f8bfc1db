"""Seeded input generation for the pipeline benchmark, cached on disk.

Every input is a pure function of ``(seed, size)``: the same pair always
yields byte-identical parquet files.  Generated sets land under
``perfbench/data/<kind>-<size>-s<seed>/`` and are reused by later runs with
the same key; a ``_DONE`` marker written last makes a half-written set
(a killed run) regenerate instead of being read.

Two input families:

* images + observations, one parquet file per day: Zipf-skewed entities,
  event times spread uniformly over each day, observation times inside the
  same day, a share of observations on cold keys (never seen in the images)
  and a share tied exactly to an event time (the inclusive as-of edge);
* a caption corpus: near-duplicate clusters of five captions (one word
  swapped per variant) plus a planted share of identical boilerplate
  captions that forms one mega-cluster.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

from feature_store_spark.functions.images import decode_image, encode_image, phash64
from feature_store_spark.pipeline.datagen import write_parquet

EPOCH = dt.datetime(2024, 1, 1)
DAY_S = 86_400

_WORDS = (
    "sunset harbor mountain forest river skyline bridge market temple garden "
    "bicycle lantern festival monsoon valley pagoda island delta boat street "
    "morning evening quiet crowded golden misty rainy sunny ancient modern "
    "wooden stone painted narrow wide old new red blue green small large "
    "family children farmer vendor monk fisherman tourist dog cat bird"
).split()
BOILERPLATE = "click here to see more photos from this gallery and share with friends"


@dataclass(frozen=True)
class EventSize:
    days: int
    images_per_day: int
    obs_per_day: int
    entities: int
    cold_frac: float = 0.05
    tie_frac: float = 0.05
    zipf: float = 1.1

    def tag(self) -> str:
        return (f"d{self.days}i{self.images_per_day}o{self.obs_per_day}"
                f"e{self.entities}")


@dataclass(frozen=True)
class CorpusSize:
    captions: int
    cluster: int = 5
    boilerplate_frac: float = 0.02

    def tag(self) -> str:
        return f"c{self.captions}k{self.cluster}"


def day_str(day: int) -> str:
    return (EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d")


def _caption(rng: np.random.Generator) -> str:
    n = int(rng.integers(4, 9))
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def entity_ids(n: int) -> list[str]:
    return [f"ent_{i:05d}" for i in range(n)]


def _event_day(size: EventSize, seed: int, day: int,
               ents: list[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    rng = np.random.default_rng([seed, day])
    p = zipf_weights(size.entities, size.zipf)
    base = EPOCH + dt.timedelta(days=day)
    n = size.images_per_day
    ent = rng.choice(size.entities, size=n, p=p)
    sec = np.sort(rng.integers(0, DAY_S, size=n))
    rows = []
    for i in range(n):
        w, h = (int(v) for v in rng.integers(8, 25, size=2))
        fmt = "png" if rng.random() < 0.5 else "jpeg"
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        data = encode_image(px, fmt)
        rows.append({
            "image_id": ents[ent[i]],
            "bytes": data,
            "w": np.int32(w),
            "h": np.int32(h),
            "fmt": fmt,
            "caption": _caption(rng),
            # the hash of the STORED image (decode roundtrip), as the
            # engine's decode stage re-derives it
            "phash": np.int64(phash64(decode_image(data))),
            "event_time": base + dt.timedelta(seconds=int(sec[i])),
        })
    images = pd.DataFrame(rows)
    images["event_time"] = pd.to_datetime(images["event_time"])

    m = size.obs_per_day
    kind = rng.random(m)
    obs_ent = [ents[i] for i in rng.choice(size.entities, size=m, p=p)]
    obs_sec = rng.integers(0, DAY_S, size=m)
    obs_t = [base + dt.timedelta(seconds=int(s)) for s in obs_sec]
    for j in range(m):
        if kind[j] < size.cold_frac:
            obs_ent[j] = f"cold_{int(rng.integers(0, 10**6)):06d}"
        elif kind[j] < size.cold_frac + size.tie_frac:
            k = int(rng.integers(0, n))  # exactly at an event: inclusive edge
            obs_ent[j] = images["image_id"].iat[k]
            obs_t[j] = images["event_time"].iat[k].to_pydatetime()
    obs = pd.DataFrame({"image_id": obs_ent, "obs_time": obs_t})
    obs["obs_time"] = pd.to_datetime(obs["obs_time"])
    return images, obs


def _marker_ok(path: str, meta: dict) -> bool:
    try:
        with open(os.path.join(path, "_DONE")) as f:
            return json.load(f) == meta
    except (OSError, ValueError):
        return False


def _publish(tmp: str, path: str, meta: dict) -> None:
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def events(data_root: str, size: EventSize, seed: int) -> str:
    """The directory of per-day ``images/<day>.parquet`` and
    ``obs/<day>.parquet`` files for days ``0..size.days-1``."""
    meta = {"kind": "events", "seed": seed, **asdict(size)}
    path = os.path.join(data_root, f"events-{size.tag()}-s{seed}")
    if _marker_ok(path, meta):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "images"))
    os.makedirs(os.path.join(tmp, "obs"))
    ents = entity_ids(size.entities)
    for day in range(size.days):
        images, obs = _event_day(size, seed, day, ents)
        write_parquet(images, os.path.join(tmp, "images", f"{day_str(day)}.parquet"))
        write_parquet(obs, os.path.join(tmp, "obs", f"{day_str(day)}.parquet"))
    _publish(tmp, path, meta)
    return path


def day_files(events_dir: str, table: str, days: range) -> list[str]:
    return [os.path.join(events_dir, table, f"{day_str(d)}.parquet") for d in days]


def read_days(events_dir: str, table: str, days: range) -> pd.DataFrame:
    return pd.concat(
        [pd.read_parquet(p) for p in day_files(events_dir, table, days)],
        ignore_index=True,
    )


def corpus(data_root: str, size: CorpusSize, seed: int) -> str:
    """The directory holding ``captions.parquet`` with
    ``(doc_id long, text string)``."""
    meta = {"kind": "corpus", "seed": seed, **asdict(size)}
    path = os.path.join(data_root, f"corpus-{size.tag()}-s{seed}")
    if _marker_ok(path, meta):
        return path
    rng = np.random.default_rng([seed, 7])
    n_boiler = int(size.captions * size.boilerplate_frac)
    texts: list[str] = []
    while len(texts) < size.captions - n_boiler:
        words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), int(rng.integers(14, 21)))]
        texts.append(" ".join(words))
        for _ in range(size.cluster - 1):
            v = list(words)
            v[int(rng.integers(0, len(v)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(v))
    texts = texts[: size.captions - n_boiler] + [BOILERPLATE] * n_boiler
    order = rng.permutation(len(texts))
    df = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": [texts[i] for i in order],
    })
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_parquet(df, os.path.join(tmp, "captions.parquet"))
    _publish(tmp, path, meta)
    return path
