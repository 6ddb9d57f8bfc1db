#!/bin/bash
# Dedup/text-stack scaling on multi-executor masters, same protocol as
# scripts/bench_scaling_cluster.sh (taskset-pinned core budgets, full
# executor registration, interleaved reps, host probes): the bench_job
# dedup phase (minhash signatures -> LSH candidate pairs over synthetic
# documents) at local-cluster[2,4] (N=8 cores) vs local-cluster[8,4]
# (4N=32 cores).  The defaults (NDOCS=4M docs of NWORDS=40 words) make
# the 8-core wall ~2 min, so the measurement is capacity-bound, not
# stage-latency-bound.  Long documents (e.g. NDOCS=80000 NWORDS=1000)
# measure the web-scale regime, where shingle/md5 capacity dominates the
# LSH tail on the 8-core side.  Raw samples land in
# BENCH/raw_cluster_dedup_n<NDOCS>_w<NWORDS>_<cores>.jsonl.
# Usage: scripts/bench_scaling_dedup.sh [data_root]
#        (env: REPS default 3, NDOCS default 4000000, NWORDS default 40)
set -e
cd "$(dirname "$0")/.."
ROOT="${1:-BENCH/data/scaling}"
REPS="${REPS:-3}"
NDOCS="${NDOCS:-4000000}"
NWORDS="${NWORDS:-40}"
MEM=6144
rm -f /tmp/engine.zip && zip -qr /tmp/engine.zip feature_store_spark
mkdir -p "$ROOT" BENCH

probe() {
  python - <<'EOF'
import time, json
t0 = time.perf_counter()
s = 0
for i in range(20_000_000):
    s += i * i
print(json.dumps({"probe_sec": round(time.perf_counter() - t0, 3)}))
EOF
}

run() { # execs: 2 or 8
  local cores=$(( $1 * 4 ))
  taskset -c 0-$((cores - 1)) \
  spark-submit --master "local-cluster[$1,4,$MEM]" \
    --py-files /tmp/engine.zip \
    --conf spark.ui.enabled=false --driver-memory 8g \
    --conf spark.scheduler.minRegisteredResourcesRatio=1.0 \
    --conf spark.scheduler.maxRegisteredResourcesWaitingTime=180s \
    scripts/bench_job.py "$ROOT" 4000000 2000000 1000000 1000000 \
    dedup 1 "$NDOCS" "$NWORDS" 2>/dev/null \
    | grep BENCHJSON | sed 's/^BENCHJSON //'
}

echo "== generating docs cache (one-time, local[32]) =="
spark-submit --master 'local[32]' --py-files /tmp/engine.zip \
  --conf spark.ui.enabled=false --driver-memory 12g \
  scripts/bench_job.py "$ROOT" 4000000 2000000 1000000 1000000 \
  dedup 1 "$NDOCS" "$NWORDS" >/dev/null 2>&1 || true

RAW="BENCH/raw_cluster_dedup_n${NDOCS}_w${NWORDS}"
rm -f "${RAW}_8.jsonl" "${RAW}_32.jsonl"
for rep in $(seq "$REPS"); do
  for execs in 2 8; do
    cores=$((execs * 4))
    echo "== rep=$rep executors=$execs (cores=$cores, pinned) =="
    { probe; run $execs; } | paste -sd' ' - \
      | tee -a "${RAW}_${cores}.jsonl"
  done
done

RAW="$RAW" python - <<'EOF'
import json
import os

raw = os.environ["RAW"]

def load(path, want_cores):
    rows = []
    for ln in open(path):
        ln = ln.strip()
        if not ln:
            continue
        try:
            probe, rest = ln.split("} ", 1)
            p, r = json.loads(probe + "}"), json.loads(rest)
        except (ValueError, json.JSONDecodeError):
            print(f"DISCARDED unparseable line in {path}: {ln[:60]}...")
            rows.append(None)
            continue
        if r.get("cores_end", r["cores"]) != want_cores:
            # executors missing at END of the measured phases: the
            # sample is neither N nor 4N
            print(f"DISCARDED sample cores={r['cores']}/"
                  f"{r.get('cores_end')} in {path}")
            rows.append(None)
            continue
        if r["cores"] != want_cores:
            # late registration BEFORE the warm pass: by measurement
            # time all executors were up (cores_end checks that), so the
            # sample is valid — note the slow start for the record
            print(f"note: sample started at cores={r['cores']} "
                  f"(registered {want_cores} by measurement) in {path}")
        rows.append((p, r))
    return rows

rows8 = load(f"{raw}_8.jsonl", 8)
rows32 = load(f"{raw}_32.jsonl", 32)
ok8 = [r for r in rows8 if r]
ok32 = [r for r in rows32 if r]
if not ok8 or not ok32:
    raise SystemExit("no valid samples on one side — rerun")
n = ok8[0][1]["n_docs"]
nwords = ok8[0][1]["n_words"]
for stage in ("minhash_sec", "dedup_sec"):
    w8 = [r[stage] for _, r in ok8]
    w32 = [r[stage] for _, r in ok32]
    b8, b32 = min(w8), min(w32)
    paired = [
        round(a[1][stage] / b[1][stage] / 4, 2) if a and b else None
        for a, b in zip(rows8, rows32)
    ]
    print(f"{stage[:-4]} (w={nwords}): min 8c={b8}s ({n/b8:,.0f} docs/s) "
          f"32c={b32}s ({n/b32:,.0f} docs/s) "
          f"spread8=±{(max(w8)-b8)/b8*100:.0f}% "
          f"spread32=±{(max(w32)-b32)/b32*100:.0f}% "
          f"min-eff={(b8/b32)/4:.2f} paired-effs={paired}")
print("probes8:", [p["probe_sec"] for p, _ in ok8])
print("probes32:", [p["probe_sec"] for p, _ in ok32])
EOF
