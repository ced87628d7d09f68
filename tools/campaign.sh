#!/bin/bash
# Round measurement campaign for the graft Spark engine — reproduces
# the committed BENCH_LOCAL_rNN.json / BENCH_rNN_sf1.json artifacts
# from a clean checkout (VERDICT r12 item 7: the regenerate recipe
# lived only in /tmp and session memory).
#
# Usage:   tools/campaign.sh <round>        e.g.  tools/campaign.sh 13
#
# What it does (SERIALLY — two JVMs at once poison timings on this VM;
# single runs swing up to 20x per query under contention):
#   1. 2x StressSmoke at 1 replica   (~10 min each at sf0.1)
#   2. 2x StressSmoke at 10 replicas (~20 min each)
#   3. 2x StressSmoke x100 spot-probes over $PROBES (~8-15 min each)
#   4. interleaved prev-head/curr-head Bench P/C/P/C/P/C (~7 min each)
#   5. merges: bench_merge (min over runs + one fresh headline),
#      stress_merge (1x/10x/x100), bench_regress vs the prior round,
#      leakcheck_local
# Whole campaign ~2 h. Stress workdirs persist under /tmp across rounds
# (generation is skipped when <workdir>/lineitem.parquet exists); the
# FIRST bucket-query run on a fresh workdir pays a one-time bucketed
# write (~15 min at x100).
#
# Run it at the COMMITTED head the artifacts will claim: every Bench /
# StressSmoke run embeds `git rev-parse HEAD` (with -dirty when the
# tree is modified) and the merge tools REJECT runs whose sha differs
# from merge-time HEAD — commit code first, measure, then commit the
# JSON artifacts.
set -u
cd "$(dirname "$0")/.."
R="${1:?usage: tools/campaign.sh <round number>}"
PREV=$(printf "%02d" $((10#$R - 1)))
NN=$(printf "%02d" "$((10#$R))")

JOPTS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
  java.nio java.util java.util.concurrent java.util.concurrent.atomic \
  sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do \
  echo --add-opens java.base/$p=ALL-UNNAMED; done)
COMMON="-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx32g"
# src/main/resources carries log4j2.properties (WARN on stderr) and the
# DataSourceRegister services file; `sbt compile` does not copy it
# into target/, so without it every main logs at Spark's INFO default
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
# x100 spot-probe set: the prior round's probe list + that round's new
# scale-relevant queries (keep ratios comparable round over round)
PROBES="q_a8_percentiles,q_bucket_join,q_bucket_rollup,q_decontaminate_semantic,q_dedup_cluster_apply,q_dedup_lines,q_dedup_minhash,q_dedup_minhash_inc,q_domain_shift,q_dpp_dayslice,q_dpp_fullscan,q_dsir_select,q_dsir_select_approx,q_dsir_sketch_raw,q_er_match,q_f_json,q_interval_join,q_j2_nearest,q_kmeans,q_kmeans_large,q_lm_score,q_mad_outliers,q_mad_outliers_approx,q_mad_sketch_raw,q_mad_plain_raw,q_mm_neardup,q_quality_gate,q_sample_mixture,q_sample_temp,q_session_window,q_shuffle_order,q_span_dedup,q_text_stats,q_tpch_q1,q_tpch_q12,q_tpch_q4,q_hll_rollup,q_agg_incremental,q_theta_overlap,q_key_skew,q_join_size,q_equidepth,q_text_pmi,q_kll_rollup,q_dedup_keep_best,q_split_leakfree,q_split_contamination,q_agg_state_full,q_theta_novelty,q_join_size_bigint,q_join_size_str,q_mad_outliers_auto,q_winsorize_auto,q_equidepth_auto"
LOG=/tmp/r${R}_campaign.log

log() { echo "$(date -u +%H:%M:%S) $1" >> "$LOG"; }

stress() { # $1 replicas  $2 workdir  $3 out  $4 only(optional)
  log "stress start replicas=$1 out=$3"
  SPARK_GRAFT_ONLY="${4:-}" SPARK_GRAFT_STRESS_REPLICAS=$1 SPARK_GRAFT_BENCH_OUT=$3 \
    java $JOPTS $COMMON -cp "$CP" graft.StressSmoke /root/testdata/sf0.1 "$2" \
    >> /tmp/r${R}_stress_stdout.log 2>> /tmp/r${R}_stress_stderr.log
  log "stress done rc=$? out=$3"
}

bench() { # $1 out
  log "bench start out=$1"
  # the sampling policy is Timing's constants: 3 reps, and a query
  # whose median exceeds 1.5 s topped up to 7 pooled reps
  # the committed BENCH_SIDE.json is copied from the fresh run at the end
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_OUT=$1 \
    java $JOPTS $COMMON -cp "$CP" graft.Bench \
    >> /tmp/r${R}_bench_stdout.log 2>> /tmp/r${R}_bench_stderr.log
  log "bench done rc=$? out=$1"
}

benchPrev() { # $1 out — PRIOR-round-head bench from the detached
  # worktree, cwd inside it so Timing.headSha stamps the prior sha.
  # Heads before the shared contract runner read their top-up from
  # SPARK_GRAFT_BENCH_HEAVY_REPS (default: no top-up); passing 7 keeps
  # the A/B's sampling the same on both sides
  log "bench(prev $PREV_SHA) start out=$1"
  (cd "$PREV_WT" && \
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_OUT=$1 \
    SPARK_GRAFT_BENCH_HEAVY_REPS=7 \
    java $JOPTS $COMMON -cp "$CP" graft.Bench) \
    >> /tmp/r${R}_bench_stdout.log 2>> /tmp/r${R}_bench_stderr.log
  log "bench(prev) done rc=$? out=$1"
}

: > "$LOG"
sbt -batch compile >> "$LOG" 2>&1 || { log "COMPILE FAILED"; exit 1; }

# Interleaved A/B setup (r15 verdict item 6): same-HEAD fresh totals
# spanned 110-138 s in r15, so fresh-vs-fresh mostly measured which VM
# window each side landed in. Build the PRIOR round's bench HEAD (the
# sha its BENCH_LOCAL artifact stamps) in a detached worktree and
# alternate prev/curr bench runs P/C/P/C/P/C — contention windows then
# hit both sides, and bench_regress compares per-query interleaved
# medians with a variance figure.
PREV_SHA=""
PREV_WT=""
if [ -f "BENCH_LOCAL_r${PREV}.json" ]; then
  PREV_SHA=$(python3 -c "import json;print(json.load(open('BENCH_LOCAL_r${PREV}.json')).get('head_sha') or '')" 2>/dev/null)
fi
if [ -n "$PREV_SHA" ] && git cat-file -e "${PREV_SHA}^{commit}" 2>/dev/null; then
  PREV_WT=/tmp/graft_prevhead_${PREV_SHA:0:10}
  if [ ! -f "$PREV_WT/target/scala-2.13/classes/graft/Bench.class" ]; then
    log "building prior head $PREV_SHA in $PREV_WT"
    { git worktree add --force --detach "$PREV_WT" "$PREV_SHA" && \
      (cd "$PREV_WT" && sbt -batch compile); } >> "$LOG" 2>&1 \
      || { log "prev-head build FAILED — falling back to curr-only bench"; PREV_WT=""; }
  fi
fi

stress 1   /tmp/graft_sf1shape_r1  /tmp/r${R}_1x_a.json
stress 1   /tmp/graft_sf1shape_r1  /tmp/r${R}_1x_b.json
stress 10  /tmp/graft_sf1shape     /tmp/r${R}_10x_a.json
stress 10  /tmp/graft_sf1shape     /tmp/r${R}_10x_b.json
stress 100 /tmp/graft_sf100shape   /tmp/r${R}_100x_a.json "$PROBES"
stress 100 /tmp/graft_sf100shape   /tmp/r${R}_100x_b.json "$PROBES"
if [ -n "$PREV_WT" ]; then
  benchPrev /tmp/r${R}_prev1.json
  bench /tmp/r${R}_bench1.json
  benchPrev /tmp/r${R}_prev2.json
  bench /tmp/r${R}_bench2.json
  benchPrev /tmp/r${R}_prev3.json
  bench /tmp/r${R}_bench3.json
else
  bench /tmp/r${R}_bench1.json
  bench /tmp/r${R}_bench2.json
  bench /tmp/r${R}_bench3.json
fi

log "merging artifacts"
python3 tools/bench_merge.py --fresh /tmp/r${R}_bench1.json \
  /tmp/r${R}_bench1.json /tmp/r${R}_bench2.json /tmp/r${R}_bench3.json \
  BENCH_LOCAL_r${NN}.json >> "$LOG" 2>&1 || log "bench_merge FAILED"
python3 tools/stress_merge.py \
  /tmp/r${R}_1x_a.json,/tmp/r${R}_1x_b.json \
  /tmp/r${R}_10x_a.json,/tmp/r${R}_10x_b.json \
  BENCH_r${NN}_sf1.json \
  --bench BENCH_LOCAL_r${NN}.json \
  --x100 /tmp/r${R}_100x_a.json,/tmp/r${R}_100x_b.json \
  >> "$LOG" 2>&1 || log "stress_merge FAILED"
if [ -f "BENCH_LOCAL_r${PREV}.json" ]; then
  if [ -n "$PREV_WT" ]; then
    python3 tools/bench_regress.py BENCH_LOCAL_r${PREV}.json BENCH_LOCAL_r${NN}.json \
      --prev-runs /tmp/r${R}_prev1.json,/tmp/r${R}_prev2.json,/tmp/r${R}_prev3.json \
      --curr-runs /tmp/r${R}_bench1.json,/tmp/r${R}_bench2.json,/tmp/r${R}_bench3.json \
      --out BENCH_REGRESS_r${NN}.json >> "$LOG" 2>&1 || log "bench_regress FAILED"
  else
    python3 tools/bench_regress.py BENCH_LOCAL_r${PREV}.json BENCH_LOCAL_r${NN}.json \
      --out BENCH_REGRESS_r${NN}.json >> "$LOG" 2>&1 || log "bench_regress FAILED"
  fi
fi
python3 tools/leakcheck_local.py >> "$LOG" 2>&1 || log "leakcheck FAILED"
# committed per-query sidecar (r17 VERDICT item 3): the fresh run's map
cp /tmp/r${R}_bench1.json BENCH_SIDE.json 2>> "$LOG" || log "side copy FAILED"
log "CAMPAIGN COMPLETE"
