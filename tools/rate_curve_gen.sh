#!/bin/bash
# Generational ingest rate curve, r17 protocol: step the IngestSoak
# feed rate under the GENERATIONAL loop (DocStream.ingestGen —
# hot-generation appends, metadata-only trigger path, background
# per-bucket-sliced merge) at the MEASURED bucket sizing rule
# (INGEST_BUCKETS=32 = cores; r16 found bucket count is the
# parallelism ceiling: 8 buckets capped the corpus-growing paths at 8
# of 32 cores and produced the 28-124 s merge-window spikes) and the
# 600 s horizon (150 s windows measure the dense fill regime, not
# steady state — r16 finding, see memory/VERDICT r16).
#
# Protocol (the r14-r16 discipline):
#   - disk check first (each 600 s leg churns 5-8 GB; r16 lost two
#     runs to ENOSPC, one as a silent 8-minute hang);
#   - tools/host_probe.py gates EVERY leg and each reading lands in
#     the artifact (cross-day absolutes are only comparable
#     probe-to-probe; a big rm -rf can leave a host-degradation
#     window, so probe BETWEEN legs, not just once);
#   - 45 s discarded JIT warmup, 600 s measured, 40 s watermark;
#   - rotateEvery 3 + the default hotFractionPm 250 ratio gate — the
#     r15 A/B's winning policy;
#   - the 20000 leg seeds its index at the r16-historical 8 buckets
#     and MIGRATES to 32 via LshIndex.rebucket before the stream
#     starts — the sweep doubles as the live-migration proof — and
#     records the per-job scheduler timeline for the FAIR
#     slice-interleaving evidence.
#
# Usage: bash tools/rate_curve_gen.sh [rates...] (default: 15000 20000 25000)
set -euo pipefail
cd "$(dirname "$0")/.."
RATES=("${@:-15000 20000 25000}")
[ $# -eq 0 ] && RATES=(15000 20000 25000)
BUCKETS="${INGEST_BUCKETS:-32}"
SECONDS_PER_RATE="${INGEST_SECONDS:-600}"
FREE_GB=$(df --output=avail -BG /tmp | tail -1 | tr -dc 0-9)
if [ "$FREE_GB" -lt 25 ]; then
  echo "refusing: only ${FREE_GB}G free on /tmp (each 600s leg churns 5-8GB; r16 ENOSPC postmortem)" >&2
  exit 1
fi
OUT=artifacts/INGEST_RATE_CURVE.json
TMP=$(mktemp -d)
mkdir -p knee_r17
for r in "${RATES[@]}"; do
  # two-reading stability gate at parallel <= 1.28 (r17 postmortem:
  # a single reading at the old 1.4 threshold admitted a degraded
  # window - probe 0.83/1.40, the r16 discard window's exact shape -
  # and the 600 s 15k leg collapsed to 49% of feed; a same-day 150 s
  # A/B on r16-close code collapsed identically, so the host, not the
  # code. Healthy days read 1.10-1.22 parallel; degraded windows also
  # WOBBLE, so one clean reading is not enough.)
  echo "=== host probe before rate $r (gate: two readings, parallel <= 1.28) ==="
  tries=0
  until python3 tools/host_probe.py 1.28 32 | tee "$TMP/probe_$r.json" \
        && sleep 20 \
        && python3 tools/host_probe.py 1.28 32 | tee "$TMP/probe_${r}_b.json"; do
    tries=$((tries + 1))
    if [ "$tries" -ge 8 ]; then
      echo "host never reached two stable readings <= 1.28 after $tries waits; aborting remaining legs" >&2
      break 2
    fi
    echo "probe over gate; waiting 180s (attempt $tries/8)" >&2
    sleep 180
  done
  EXTRA_ENV=()
  if [ "$r" = "20000" ]; then
    # the rebucket-migration leg + job-timeline leg
    EXTRA_ENV=(INGEST_REBUCKET_FROM=8
               INGEST_JOB_TIMELINE_OUT="knee_r17/job_timeline_${r}.jsonl")
  fi
  echo "=== rate $r docs/s (generational, ${BUCKETS} buckets, ${SECONDS_PER_RATE}s) ==="
  # the protocol is rated at 32 cores (Session.cpus defaults to 4)
  env SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" INGEST_ROTATE_EVERY=3 \
  INGEST_BUCKETS=$BUCKETS \
  INGEST_DOCS_PER_SEC=$r INGEST_SECONDS=$SECONDS_PER_RATE \
  INGEST_WATERMARK="40 seconds" \
  INGEST_WARMUP_SECONDS=45 \
  INGEST_SEEDS=10000 INGEST_OUT="$TMP/soakG_$r.jsonl" \
  INGEST_SUMMARY_OUT="$TMP/summary_$r.json" \
  "${EXTRA_ENV[@]}" \
  JVM_XMX=24g bash tools/run_main.sh graft.IngestSoak 2>/dev/null | tail -1
  cp "$TMP/soakG_$r.jsonl" "knee_r17/soakGen_${r}_b${BUCKETS}_${SECONDS_PER_RATE}s.jsonl" 2>/dev/null || true
  cp "$TMP/summary_$r.json" "knee_r17/soakGen_${r}_b${BUCKETS}_${SECONDS_PER_RATE}s_summary.json" 2>/dev/null || true
done
python3 tools/host_probe.py 99 32 | tee "$TMP/probe_after.json" || true
python3 - "$TMP" "$OUT" "$BUCKETS" "$SECONDS_PER_RATE" "${RATES[@]}" <<'EOF'
import json, sys
tmp, out, buckets, secs, rates = (
    sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), sys.argv[5:])

def load_probe(path):
    # a failed/interrupted probe leaves an empty or partial file behind
    # tee; 30+ minutes of soak legs must not be lost at the final
    # aggregation step over it
    try:
        with open(path) as f:
            return json.load(f)
    except Exception:
        return None

rows = []
for r in rates:
    # a leg skipped by the probe gate's abort has no summary; keep the
    # completed legs' aggregation instead of losing the whole artifact
    try:
        d = json.load(open(f"{tmp}/summary_{r}.json"))
    except Exception:
        continue
    rows.append({
        "feed_docs_per_sec": d["feed_docs_per_sec"],
        "seconds": d["seconds"],
        "buckets": d["buckets"],
        "rebucket_from": d.get("rebucket_from", 0),
        "batches": d["batches"],
        "median_docs_per_sec": d["median_docs_per_sec"],
        "pct_of_feed": round(100.0 * d["median_docs_per_sec"]
                             / d["feed_docs_per_sec"], 1),
        "batch_latency_p50_ms": d["batch_latency_p50_ms"],
        "batch_latency_p95_ms": d["batch_latency_p95_ms"],
        "batch_latency_max_ms": d["batch_latency_max_ms"],
        "corpus_rows": d["corpus_rows"],
        "state_plateau": d["state_plateau"],
        "host_probe_before": load_probe(f"{tmp}/probe_{r}.json"),
        "host_probe_before_b": load_probe(f"{tmp}/probe_{r}_b.json"),
        # strict form: ordinary batches hold the 15 s contract
        # (reference: the 15 s micro-batch)
        "holds_15s_trigger_p95": d["batch_latency_p95_ms"] < 15000,
        "keeps_up_with_feed": d["median_docs_per_sec"] >= 0.95 * d["feed_docs_per_sec"],
        # the 600 s sustained criterion (r16): feed kept, state flat,
        # and even merge-window batches bounded well under 2x trigger
        "sustained_600s": (d["median_docs_per_sec"] >= 0.95 * d["feed_docs_per_sec"]
                           and d["state_plateau"]
                           and d["batch_latency_max_ms"] < 30000),
    })
rated = max((r["feed_docs_per_sec"] for r in rows if r["sustained_600s"]),
            default=0)
doc = {"metric": "ingest_rate_curve",
       "loop": "generational (DocStream.ingestGen: hot appends, metadata-only "
               "trigger, background per-bucket-sliced merge, rotateEvery 3, "
               "hotFractionPm 250, FAIR maintenance pool weight 1/8)",
       "buckets": buckets,
       "trigger_slo_ms": 15000,
       "watermark": "40 seconds",
       "seconds_per_rate": secs,
       "warmup_seconds": 45,
       "rated_docs_per_sec": rated,
       "rated_criterion": "sustained over the 600 s horizon: median "
               "throughput >= 95% of feed, state plateaued, and every "
               "batch (merge windows included) under 2x the 15 s trigger. "
               "holds_15s_trigger_p95 is the strict per-row form.",
       "host_probe_after": load_probe(f"{tmp}/probe_after.json"),
       "history": {
           "r16_8bucket_rated": 15000,
           "note": "r16 rated 15 k sustained/600 s at the historical 8 "
                   "buckets (20 k = saturation onset, 92% of feed with "
                   "28-124 s merge-window batches); r16 also measured a "
                   "single 32-bucket leg at 20 k holding 95.7% with every "
                   "batch <= 27 s, which this sweep re-runs as a full "
                   "probe-gated curve. The r14 mono-loop 20 k figure is "
                   "retired (its in-trigger compaction grows with stream "
                   "lifetime - GEN_INGEST_AB_R15.json)."},
       "note": "rated = highest stepped feed rate meeting the sustained "
               "600 s criterion at INGEST_BUCKETS=" + str(buckets) + " "
               "(the r16 sizing rule: buckets >= cores; bucketed scans "
               "cannot split a bucket across tasks, so bucket count is "
               "the probe/merge parallelism ceiling). The 20 k leg seeds "
               "at 8 buckets and migrates via LshIndex.rebucket before "
               "the stream starts, so the rated layout is also the "
               "live-migration product.",
       "rates": rows}
if not rows:
    # every leg was gate-aborted: keep the previous rated artifact
    # rather than replacing it with an empty curve
    print("no completed legs; leaving", out, "untouched")
    sys.exit(0)
open(out, "w").write(json.dumps(doc, indent=1) + "\n")
print(json.dumps(doc, indent=1))
EOF
