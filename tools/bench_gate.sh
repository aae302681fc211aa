#!/bin/bash
# Steal-gated quiet-window bench (verify-skill pattern): probe 30 s of
# hypervisor steal; run the bench only on a quiet host; retry a
# contaminated census. Usage: BENCH_OUT=BENCH_CLEAN_rNN.json tools/bench_gate.sh
cd /root/repo
OUT="${BENCH_OUT:-BENCH_CLEAN.json}"
for attempt in 1 2 3 4 5 6; do
  # bound the quiet-window wait: 40 probes x (30 s sleep) ~ 20 min per
  # attempt, then fall through and let the bench's own contamination
  # verdict decide (an unbounded wait could spin forever on a busy day)
  probes=0
  while [ "$probes" -lt 40 ]; do
    s0=$(awk '/^cpu /{print $9}' /proc/stat)
    sleep 30
    s1=$(awk '/^cpu /{print $9}' /proc/stat)
    ticks=$((s1-s0))
    load=$(awk '{print int($1)}' /proc/loadavg)
    echo "[gate] attempt $attempt probe: steal=$ticks load=$load $(date +%T)"
    if [ "$ticks" -lt 10 ] && [ "$load" -lt 2 ]; then break; fi
    probes=$((probes+1))
  done
  # a stale output from a previous round/attempt must never satisfy the
  # clean-census check below — remove it before each attempt
  rm -f "$OUT"
  # graft.Bench defaults to the sf0.1 test data and the host's CPU count
  SPARK_GRAFT_BENCH_DETAIL="$OUT" \
    sbt -batch "runMain graft.Bench" > /tmp/bench_gate_attempt_$attempt.log 2>&1
  rc=$?
  if [ "$rc" -ne 0 ]; then
    echo "[gate] attempt $attempt: sbt exited $rc (see /tmp/bench_gate_attempt_$attempt.log); retrying"
    continue
  fi
  if [ -f "$OUT" ] && grep -q '"contaminated":false' "$OUT"; then
    echo "[gate] CLEAN census on attempt $attempt"
    exit 0
  fi
  echo "[gate] attempt $attempt contaminated; retrying"
done
echo "[gate] no clean census in 6 attempts"
exit 1
