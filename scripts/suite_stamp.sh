#!/bin/sh
# Dev-only suite-wall recorder (r15, VERDICT #2): runs `sbt test` with
# the same /proc/stat steal bracket StealMonitor puts on Bench sweeps,
# and appends ONE machine-readable JSON line to
# SUITE_r{N}.json — so the suite-wall series (7:44 calm record, 8:29
# typical, ≤9:00 bar) is adjudicated by an in-artifact integral instead
# of prose-matched load averages. The integral between two cumulative
# /proc/stat reads is exact (the counters integrate for us); a 5 s
# background sampler adds the per-window peak, mirroring
# StealMonitor.Result's fields. Denominator = first 8 columns only
# (guest time is already inside user/nice — same r15 fix as the Scala
# monitor).
#
# Usage: scripts/suite_stamp.sh [out.json]  (run from the repo root)
set -u
out=${1:-SUITE_r15.json}

read_stat() { awk '/^cpu /{t=0; for(i=2;i<=9;i++) t+=$i; print t, $9; exit}' /proc/stat; }

samples=/tmp/suite_stamp_samples.$$
: > "$samples"
( while :; do read_stat >> "$samples"; sleep 5; done ) &
sampler=$!
trap 'kill $sampler 2>/dev/null' EXIT

t0=$(date +%s)
set -- $(read_stat); j0=$1; s0=$2
sbt -batch test > /tmp/suite_stamp_run.log 2>&1
rc=$?
set -- $(read_stat); j1=$1; s1=$2
t1=$(date +%s)
kill "$sampler" 2>/dev/null

tests=$(grep -o 'Total number of tests run: [0-9]*' /tmp/suite_stamp_run.log | tail -1 | grep -o '[0-9]*')
failed=$(grep -o 'failed [0-9]*' /tmp/suite_stamp_run.log | tail -1 | grep -o '[0-9]*')

awk -v j0="$j0" -v s0="$s0" -v j1="$j1" -v s1="$s1" \
    -v wall=$((t1 - t0)) -v tests="${tests:-0}" -v failed="${failed:--1}" \
    -v rc="$rc" '
  # per-window peak from consecutive sampler reads
  { if (NR > 1 && $1 > pj) { w = ($2 - ps) / ($1 - pj); if (w > peak) peak = w; n++ }
    pj = $1; ps = $2 }
  END {
    integ = (j1 > j0) ? (s1 - s0) / (j1 - j0) : 0
    if (integ > peak) peak = integ   # sub-period run: endpoint window IS the peak
    printf("{\"tests\":%d,\"failed\":%d,\"rc\":%d,\"wall_sec\":%d,\"steal_integral\":%.4f,\"steal_peak\":%.4f,\"steal_samples\":%d}\n",
           tests, failed, rc, wall, integ, peak, n)
  }' "$samples" >> "$out"
rm -f "$samples"
tail -1 "$out"
tail -4 /tmp/suite_stamp_run.log
exit $rc
