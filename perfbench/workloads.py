"""The benchmark's workloads.

A workload has a set-up (input generation, outside the timed region), a
*build* (the first unit of work in the fresh session, timed on its own) and
a *pass* (the unit of work the rest of the timed region repeats).  Checks
run on the outputs after the timed region.  Every call into the engine goes
through its public functions and is timed from outside.

* ``pipeline`` — the build is ``FeaturePipeline.run_all`` into an empty
  output directory over 7 days of images and observations; each pass is
  one further day on that store: the batch path (new partitions,
  ``update_feature_table``, incremental ``materialize``,
  ``materialize_latest`` + ``publish``), the day's observations streamed
  one file per micro-batch through ``stream_enrich_to_table``, and
  closed-loop ``infer`` requests.  Consecutive passes are consecutive days.
* ``caption_dedup`` — the ``q_corpus_dedup`` composition over a caption
  corpus (exact fingerprints, MinHash + capped LSH banding, n-gram Jaccard
  verification, ``dup_clusters``); the build is the first such pass, each
  pass another.

With tracing on, traced calls also record per-layer figures; a layer a
workload does not exercise reports 0.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

import checks
import datagen
from feature_store_spark.functions.images import with_image_features
from feature_store_spark.io.tables import PartitionedTable
from feature_store_spark.operators.asof import asof_join, sliced_cache_scope
from feature_store_spark.operators.caches import cache_scope
from feature_store_spark.operators.dedup import (
    dup_clusters,
    exact_fingerprints,
    lsh_candidate_pairs_with_stats,
    minhash_wide,
    ngram_jaccard,
)
from feature_store_spark.operators.windows import rolling_at
from feature_store_spark.pipeline.infer import infer
from feature_store_spark.pipeline.materialize import (
    CheckpointManifest,
    LineageLog,
    feature_lineage_for,
    materialize,
    rows_decoded_total,
    update_feature_table,
)
from feature_store_spark.pipeline.orchestrator import FeaturePipeline
from feature_store_spark.plans.features import (
    get_offline_features,
    materialize_latest,
)
from feature_store_spark.streaming.enrich import stream_enrich_to_table

ANCHOR = "image_features"
# trailing windows of the registry: (output column, aggregate, window)
WINDOWS = [(f"{agg}_{w}", agg, w)
           for w in ("1d", "7d", "30d", "90d") for agg in ("count", "avg")]
REGISTRY = {
    "anchors": [{
        "name": ANCHOR,
        "key": "image_id",
        "event_time": "event_time",
        "tiebreak": list(checks.TIEBREAK),
        "features": [
            {"name": "phash_f", "expr": "phash", "dtype": "long"},
            {"name": "brightness", "expr": "(mean_r + mean_g + mean_b) / 3",
             "dtype": "double"},
            # the as-of row's own timestamp: the leakage check's handle
            {"name": "feat_time", "expr": "event_time"},
        ],
        "window_features": [
            {"name": n, "expr": "mean_r", "agg": a, "window": w}
            for n, a, w in WINDOWS
        ],
    }],
}
DEFAULTS = {"phash_f": 0, "brightness": -1.0}
OBS_DDL = "image_id string, obs_time timestamp"


def noop(df) -> None:
    """Force every column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> float:
    """The highest-rank sample with at least ten samples above it; the
    maximum when there are fewer than eleven samples."""
    s = sorted(xs)
    if not s:
        return 0.0
    return float(s[len(s) - 11] if len(s) > 10 else s[-1])


def stage_raw(events_dir: str, days: range, raw: str) -> None:
    """Lay out ``days`` as the ``images.parquet`` / ``observations.parquet``
    directories ``FeaturePipeline`` reads."""
    for table, name in (("images", "images.parquet"),
                        ("obs", "observations.parquet")):
        os.makedirs(os.path.join(raw, name), exist_ok=True)
        for src in datagen.day_files(events_dir, table, days):
            shutil.copyfile(src, os.path.join(raw, name, os.path.basename(src)))


def store_stats(root: str) -> dict:
    """Bytes under ``root`` and snapshot-manifest entries across its tables."""
    total = entries = 0
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            total += os.path.getsize(p)
            if f == "_manifest.jsonl":
                with open(p) as fh:
                    entries += sum(1 for ln in fh if ln.strip())
    return {"bytes": total, "entries": entries}


class Workload:
    """Shared state: the session, the tracer, the run's directories, the
    operation counters behind ``attempted`` / ``failed`` and the per-layer
    figures of traced calls."""

    MIN_PASSES = 2  # passes the timed region runs at least, warm-up included
    # leading passes that still warm the JVM (its JIT keeps compiling code
    # paths the build did not run): they run and are checked, but pass_s
    # and the tracing overhead leave them out
    WARMUP_PASSES = 0

    def __init__(self, spark, tracer, seed: int, data_root: str, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.data_root = data_root
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.gen_s = 0.0
        # wall seconds of each pass's parts, for the run_info line
        self.parts: list[dict[str, float]] = []

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def setup(self) -> None:
        """Generate or load the inputs; no engine work."""
        raise NotImplementedError

    def build(self, traced: bool) -> None:
        raise NotImplementedError

    def run_pass(self, traced: bool) -> None:
        raise NotImplementedError

    def start_passes(self) -> None:
        """Untimed preparation between the build and the first pass."""

    def measure_layers(self) -> None:
        """Standalone per-layer calls, made once at the end of a traced run."""

    def check(self) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass


# ------------------------------------------------------------------ pipeline
class Pipeline(Workload):
    HISTORY = 7
    MAX_DAYS = 8  # days generated after the history; each pass takes one
    SIZE = datagen.EventSize(days=HISTORY + MAX_DAYS, images_per_day=80,
                             obs_per_day=80, entities=400)
    FILES_PER_DAY = 3
    REQUESTS_PER_DAY = 200
    PROBE_EVERY = 10  # traced: time a bare multi_get on every 10th request
    KEYS_PER_REQUEST = 16
    COLD_PER_REQUEST = 2
    STREAM_TIMEOUT_S = 60.0
    # run_all does not run the daily path, so the first day warms it
    WARMUP_PASSES = 1
    MIN_PASSES = 3

    def setup(self) -> None:
        t = time.perf_counter()
        self.events = datagen.events(self.data_root, self.SIZE, self.seed)
        self.gen_s = time.perf_counter() - t
        hist = range(self.HISTORY)
        self.images = datagen.read_days(self.events, "images", hist)
        self.obs = datagen.read_days(self.events, "obs", hist)
        self.hist_images, self.hist_obs = self.images, self.obs
        self.raw = os.path.join(self.work, "raw")
        stage_raw(self.events, hist, self.raw)
        self.cold = sorted(k for k in self.obs["image_id"].unique()
                           if k.startswith("cold_"))
        self.out = os.path.join(self.work, "store")
        stream = os.path.join(self.work, "stream")
        self.src = os.path.join(stream, "source")
        self.staging = os.path.join(stream, "staging")
        self.stream_ckpt = os.path.join(stream, "checkpoint")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.enriched = PartitionedTable(stream, "enriched", "obs_date")
        self.streamed: list[pd.DataFrame] = []
        self.query = None
        self.day = self.HISTORY
        self.rng = np.random.default_rng([self.seed, 5])
        self.weights = datagen.zipf_weights(self.SIZE.entities, self.SIZE.zipf)
        self.entities = datagen.entity_ids(self.SIZE.entities)
        self.responses: list[tuple[pd.DataFrame, set[str]]] = []

    # -- build: run_all into an empty store ------------------------------
    def build(self, traced: bool) -> None:
        pipe = FeaturePipeline({
            "raw_data_path": self.raw,
            "output_path": self.out,
            # one attempt: a failing stage must count as failed, not retry
            "job_retry": 1,
            "asof_strategy": "auto",
            "batch_dates": 16,
            "registry": REGISTRY,
            "online_defaults": DEFAULTS,
            "infer_keys": [*self.images["image_id"].unique()[:3], *self.cold[:2]],
        }, self.spark)
        self.pipe = pipe
        stages = [
            ("preprocess", pipe.preprocess_features),
            ("register", pipe.register_features),
            ("training", pipe.get_features_for_training_pipeline),
            ("materialize_online", pipe.materialize_online_features),
            ("materialize_offline", pipe.materialize_offline_features),
            ("infer", pipe.get_features_for_infer_pipeline),
            ("corpus_stats", pipe.corpus_stats),
            ("maintain", pipe.maintain),
        ]
        self.op(len(stages))
        if not traced:
            pipe.run_all()
        else:
            jobs = n_stages = 0
            for name, fn in stages:  # run_all's sequence, one span per stage
                with self.tracer.span(f"orchestrator.{name}") as s:
                    fn()
                self.layer[f"orchestrator.{name}_s"] = s.seconds
                jobs += s.jobs
                n_stages += s.stages
            self.layer["orchestrator.jobs"] = jobs
            self.layer["orchestrator.stages"] = n_stages
            self.layer["orchestrator.train_rows_per_s"] = (
                len(self.obs) / self.layer["orchestrator.training_s"])
        self.anchor = pipe.registry.anchors[ANCHOR]
        self.checkpoint = CheckpointManifest(
            os.path.join(self.out, "_checkpoint.jsonl"))
        self.lineage = LineageLog(os.path.join(self.out, "_lineage.jsonl"))

    def start_passes(self) -> None:
        # the streaming query runs from here on; starting it is not part of
        # any day, so the first pass does not pay for it
        self.query = stream_enrich_to_table(
            self.spark, self.src, OBS_DDL, self.pipe.state_t,
            self.enriched, self.stream_ckpt, available_now=False)

    # -- pass: one day ---------------------------------------------------
    def run_pass(self, traced: bool) -> None:
        if self.day >= self.SIZE.days:
            raise RuntimeError("pipeline: generated days exhausted")
        day = range(self.day, self.day + 1)
        self.day += 1
        self.images = pd.concat(
            [self.images, datagen.read_days(self.events, "images", day)],
            ignore_index=True)
        day_obs = datagen.read_days(self.events, "obs", day)
        self.obs = pd.concat([self.obs, day_obs], ignore_index=True)
        parts = {}
        for name, fn in (("batch", lambda: self._batch_path(day, traced)),
                         ("stream", lambda: self._stream(day_obs, traced)),
                         ("serve", lambda: self._serve(traced))):
            t = time.perf_counter()
            fn()
            parts[name] = time.perf_counter() - t
        self.parts.append(parts)

    def _batch_path(self, day: range, traced: bool) -> None:
        spark, pipe = self.spark, self.pipe
        if traced:
            before = store_stats(self.out)
            decoded0 = rows_decoded_total(feature_lineage_for(pipe.features_t))
        [img_file] = datagen.day_files(self.events, "images", day)
        [obs_file] = datagen.day_files(self.events, "obs", day)
        t0 = time.perf_counter()
        self.op(5)
        with self.tracer.span("tables.write") as w1:
            pipe.images_t.write(
                spark.read.parquet(img_file).withColumn(
                    "event_date", F.date_format(
                        F.col("event_time").cast("timestamp"), "yyyy-MM-dd")),
                mode="overwrite_partitions")
        with self.tracer.span("tables.write") as w2:
            pipe.obs_t.write(
                spark.read.parquet(obs_file).withColumn(
                    "obs_date", F.date_format(
                        F.col("obs_time").cast("timestamp"), "yyyy-MM-dd")),
                mode="overwrite_partitions")
        with self.tracer.span("materialize.update") as u:
            update_feature_table(spark, pipe.images_t, pipe.features_t,
                                 pipe.state_t,
                                 feature_lineage_for(pipe.features_t))
        with self.tracer.span("materialize.materialize") as m:
            done = materialize(
                spark, pipe.images_t, pipe.obs_t, pipe.offline_t,
                self.checkpoint, self.lineage, dates=None,
                asof_strategy="auto", features_table=pipe.features_t,
                state_table=pipe.state_t, batch_dates=16)
        with self.tracer.span("infer.publish") as p:
            latest = materialize_latest(pipe.features_t.read(spark), self.anchor)
            keep = [self.anchor.key] + [f.name for f in self.anchor.features] \
                + [w.name for w in self.anchor.window_features]
            pipe.store.publish(ANCHOR, latest.select(*keep),
                               key=self.anchor.key, defaults=DEFAULTS)
        batch_s = time.perf_counter() - t0
        if not traced:
            return
        after = store_stats(self.out)
        in_bytes = os.path.getsize(img_file) + os.path.getsize(obs_file)
        self.layer.update({
            "day.batch_s": batch_s,
            "tables.write_s": w1.seconds + w2.seconds,
            "tables.commits": after["entries"] - before["entries"],
            "tables.manifest_entries": after["entries"],
            "tables.bytes_written_per_input_byte":
                (after["bytes"] - before["bytes"]) / in_bytes,
            "materialize.update_s": u.seconds,
            "materialize.rows_decoded_per_day":
                rows_decoded_total(feature_lineage_for(pipe.features_t))
                - decoded0,
            "materialize.materialize_s": m.seconds,
            "materialize.dates_per_day": len(done),
            "materialize.new_dates_frac": 1 / len(done),
            "materialize.jobs_per_day": m.jobs,
            "infer.publish_s": p.seconds,
        })

    def _stream(self, day_obs: pd.DataFrame, traced: bool) -> None:
        """Land the day's observations one file per micro-batch and time
        each from landing to its committed snapshot."""
        sc = self.spark.sparkContext
        group = str(self.query.runId)  # the stream's own job group
        jobs0 = len(sc.statusTracker().getJobIdsForGroup(group))
        lat, rows = [], []
        for i, chunk in enumerate(np.array_split(day_obs, self.FILES_PER_DAY)):
            self.op()
            name = f"{self.day:03d}-{i}.parquet"
            datagen.write_parquet(chunk.reset_index(drop=True),
                                  os.path.join(self.staging, name))
            snap0 = self.enriched.current_snapshot()
            id0 = snap0.snapshot_id if snap0 else None
            n0 = sum(snap0.partitions.values()) if snap0 else 0
            t0 = time.perf_counter()
            os.replace(os.path.join(self.staging, name),
                       os.path.join(self.src, name))
            polls = 0
            while True:
                snap = self.enriched.current_snapshot()
                if snap is not None and snap.snapshot_id != id0:
                    break
                polls += 1
                if polls % 250 == 0:  # about every half second
                    if self.query.exception() is not None:
                        raise RuntimeError(
                            f"stream failed: {self.query.exception()}")
                    if time.perf_counter() - t0 > self.STREAM_TIMEOUT_S:
                        raise RuntimeError(
                            "stream: micro-batch not committed in time")
                time.sleep(0.002)
            lat.append(time.perf_counter() - t0)
            rows.append(sum(snap.partitions.values()) - n0)
            self.streamed.append(chunk)
        if not traced:
            return
        progress = [p for p in self.query.recentProgress
                    if p.get("numInputRows", 0) > 0]
        add_batch = [p["durationMs"].get("addBatch", 0) / 1000
                     for p in progress[-self.FILES_PER_DAY:]]
        jobs = len(sc.statusTracker().getJobIdsForGroup(group)) - jobs0
        self.layer.update({
            "stream.batch_s_p50": median(lat),
            "stream.batch_s_tail": tail(lat),
            "enrich.batch_s": median(add_batch),
            "enrich.rows_out": median(rows),
            "enrich.jobs_per_batch": jobs / len(lat),
        })

    def _serve(self, traced: bool) -> None:
        """Closed loop, one client: each request waits for the previous."""
        known = set(self.images["image_id"])
        store = self.pipe.store
        tables = {ANCHOR: self.anchor.key}
        lat, mg, files, cold = [], [], [], []
        for n in range(self.REQUESTS_PER_DAY):
            self.op()
            hot = self.rng.choice(
                len(self.entities),
                size=self.KEYS_PER_REQUEST - self.COLD_PER_REQUEST,
                p=self.weights)
            keys = [self.entities[i] for i in hot] + [
                f"cold_req_{int(v):07d}"
                for v in self.rng.integers(0, 10**7, self.COLD_PER_REQUEST)]
            spine = pd.DataFrame({"image_id": keys})
            t0 = time.perf_counter()
            served = infer(store, spine, tables)
            lat.append(time.perf_counter() - t0)
            miss = {k for k in keys if k not in known}
            # checked after the timed region
            self.responses.append((served, miss))
            if traced and n % self.PROBE_EVERY == 0:
                t1 = time.perf_counter()
                store.multi_get(ANCHOR, keys, self.anchor.key)
                mg.append(time.perf_counter() - t1)
                files.append(len(store.sink.files_for_keys(ANCHOR, keys) or []))
                cold.append(len(miss) / len(keys))
        if traced:
            self.layer.update({
                "serve.ms_p50": 1000 * median(lat),
                "serve.ms_tail": 1000 * tail(lat),
                "infer.multi_get_ms_p50": 1000 * median(mg),
                "infer.files_per_request": median(files),
                "infer.cold_start_frac": float(np.mean(cold)),
            })

    def measure_layers(self) -> None:
        spark, pipe = self.spark, self.pipe

        def build_exec(name: str, make) -> None:
            with self.tracer.span(f"{name}.build") as b:
                df = make()
            with self.tracer.span(f"{name}.exec") as e:
                noop(df)
            self.layer[f"{name}.build_s"] = b.seconds
            self.layer[f"{name}.exec_s"] = e.seconds

        imgs = spark.read.parquet(os.path.join(self.raw, "images.parquet"))
        with self.tracer.span("images.decode") as s:
            noop(with_image_features(imgs))
        self.layer["images.decode_s"] = s.seconds
        self.layer["images.rows_decoded"] = len(self.hist_images)

        obs = pipe.obs_t.read(spark)
        feats = pipe.features_t.read(spark)
        events = feats.select("image_id", "event_time",
                              F.col("mean_r").alias("__v"))
        fns = {"count": F.count, "avg": F.avg}
        aggs = {n: (fns[a]("__v"), w) for n, a, w in WINDOWS}
        build_exec("windows.rolling_at", lambda: rolling_at(
            obs, events, "image_id", "obs_time", "event_time", aggs))
        payload = feats.select("image_id", "event_time", "phash", "caption",
                               "mean_r", "mean_g", "mean_b")
        with sliced_cache_scope():
            build_exec("asof.asof_join", lambda: asof_join(
                obs, payload, on="image_id", obs_time="obs_time",
                feature_time="event_time",
                feature_cols=["phash", "mean_r", "mean_g", "mean_b"],
                tiebreak_cols=list(checks.TIEBREAK), strategy="auto"))
        with sliced_cache_scope():
            build_exec("features.get_offline_features",
                       lambda: get_offline_features(
                           obs, {ANCHOR: feats}, pipe.registry,
                           obs_time="obs_time", asof_strategy="auto"))

    def check(self) -> None:
        spark = self.spark
        bad = 0
        for served, miss in self.responses:
            try:
                checks.cold_keys_get_defaults(served, miss, DEFAULTS)
            except checks.CheckFailed:
                bad += 1
        checks.require(bad == 0, f"serving: {bad} responses without the "
                       "sentinel defaults on cold keys")
        served = pd.read_parquet(os.path.join(self.out, "infer_features.parquet"))
        checks.cold_keys_get_defaults(served, set(self.cold), DEFAULTS)
        ents = checks.sample_entities(self.hist_images, self.seed, 4) \
            + self.cold[:1]
        train = spark.read.parquet(
            os.path.join(self.out, "training_features.parquet"))
        checks.require(train.count() == len(self.hist_obs),
                       "training frame: row count differs from observations")
        checks.no_leakage(train, "feat_time", "obs_time", "training frame")
        checks.training_parity(train, self.hist_images, self.hist_obs, ents,
                               WINDOWS)
        mat = self.pipe.offline_t.read(spark)
        checks.require(mat.count() == len(self.obs),
                       "materialized frame: row count differs from observations")
        checks.no_leakage(mat, "feature_ts", "obs_time", "materialized frame")
        checks.materialized_parity(mat, self.images, self.obs, ents)
        if self.streamed:
            out = self.enriched.read(spark)
            checks.one_row_per_observation(
                out, pd.concat(self.streamed, ignore_index=True))
            checks.no_leakage(out, "feature_ts", "obs_time", "stream output")

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(60)


# ------------------------------------------------------------ caption dedup
class CaptionDedup(Workload):
    SIZE = datagen.CorpusSize(captions=4000)
    # the build is a pass in the cold JVM, so later passes run warmed code
    MIN_PASSES = 3
    NUM_HASHES = 8
    BAND_SIZE = 2
    MAX_BUCKET = 50
    JACCARD_MIN = 0.5  # the verify threshold of q_corpus_dedup

    def setup(self) -> None:
        t = time.perf_counter()
        corpus_dir = datagen.corpus(self.data_root, self.SIZE, self.seed)
        self.gen_s = time.perf_counter() - t
        self.path = os.path.join(corpus_dir, "captions.parquet")
        self.n_pass = 0

    def _exact_pairs(self, docs):
        # each caption's fingerprint joined to its group's canonical id: the
        # exact-duplicate edges of q_corpus_dedup
        fp = exact_fingerprints(docs)
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
        return (
            docs.select("doc_id", F.md5(norm).alias("fingerprint"))
            .join(fp, "fingerprint")
            .where(F.col("doc_id") != F.col("canonical_doc_id"))
            .select(F.col("canonical_doc_id").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"))
        )

    def _candidates(self, docs):
        sig = minhash_wide(docs, num_hashes=self.NUM_HASHES)
        return lsh_candidate_pairs_with_stats(
            None, num_hashes=self.NUM_HASHES, band_size=self.BAND_SIZE,
            max_bucket_size=self.MAX_BUCKET, wide_signatures=sig)

    def _verified(self, cand, docs):
        return (
            ngram_jaccard(cand, docs, id_a="doc_id_a", id_b="doc_id_b")
            .where(F.col("jaccard") >= self.JACCARD_MIN)
            .select(F.col("doc_id_a").alias("doc_a"),
                    F.col("doc_id_b").alias("doc_b"))
        )

    def _edges(self, docs):
        cand, _ = self._candidates(docs)
        return self._exact_pairs(docs).unionByName(self._verified(cand, docs))

    def build(self, traced: bool) -> None:
        self.run_pass(False)

    def run_pass(self, traced: bool) -> None:
        self.n_pass += 1
        self.out = os.path.join(self.work, f"clusters{self.n_pass}")
        self.op()
        docs = self.spark.read.parquet(self.path)
        if not traced:
            with cache_scope():
                dup_clusters(docs.select("doc_id"), self._edges(docs),
                             id_col="doc_id", id_a="doc_a", id_b="doc_b") \
                    .write.parquet(self.out)
            return
        # each layer's output is written before the next layer reads it, so
        # each exec span times that layer alone
        tmp = os.path.join(self.work, f"layers{self.n_pass}")

        def read(name: str):
            return self.spark.read.parquet(os.path.join(tmp, name))

        def layer(name: str, make, path: str) -> None:
            with self.tracer.span(f"dedup.{name}.build") as b:
                df = make()
            with self.tracer.span(f"dedup.{name}.exec") as e:
                df.write.parquet(os.path.join(tmp, path))
            self.layer[f"dedup.{name}.build_s"] = b.seconds
            self.layer[f"dedup.{name}.exec_s"] = e.seconds

        lsh: dict = {}

        def candidates():
            lsh["cand"], lsh["dropped"] = self._candidates(docs)
            return lsh["cand"]

        with cache_scope():
            layer("fingerprints", lambda: self._exact_pairs(docs), "exact")
            layer("minhash_lsh", candidates, "cand")
            dropped = lsh["dropped"].collect()  # the hot-bucket report
            layer("jaccard", lambda: self._verified(read("cand"), docs), "ver")
            edges = read("exact").unionByName(read("ver"))
            with self.tracer.span("dedup.dup_clusters.build") as b:
                clusters = dup_clusters(docs.select("doc_id"), edges,
                                        id_col="doc_id", id_a="doc_a",
                                        id_b="doc_b")
            with self.tracer.span("dedup.dup_clusters.exec") as e:
                clusters.write.parquet(self.out)
        n_cand, n_ver = read("cand").count(), read("ver").count()
        sizes = self.spark.read.parquet(self.out).groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n"))
        self.layer.update({
            "dedup.dup_clusters.build_s": b.seconds,
            "dedup.dup_clusters.exec_s": e.seconds,
            "dedup.dup_clusters.jobs": b.jobs + e.jobs,
            "dedup.candidate_pairs": n_cand,
            "dedup.buckets_dropped": len(dropped),
            "dedup.verified_pair_frac": n_ver / n_cand if n_cand else 0.0,
            "dedup.clusters": sizes.where(F.col("n") > 1).count(),
            "dedup.max_cluster_size": sizes.agg(F.max("n")).first()[0],
        })
        shutil.rmtree(tmp, ignore_errors=True)

    def check(self) -> None:
        docs = self.spark.read.parquet(self.path)
        with cache_scope():
            pairs = [(r["doc_a"], r["doc_b"]) for r in self._edges(docs).collect()]
        clusters = [r.asDict()
                    for r in self.spark.read.parquet(self.out).collect()]
        checks.require(len(clusters) == self.SIZE.captions,
                       f"dup_clusters: {len(clusters)} rows for "
                       f"{self.SIZE.captions} captions")
        checks.clusters_match_union_find(clusters, pairs)


WORKLOADS = {
    "pipeline": Pipeline,
    "caption_dedup": CaptionDedup,
}
