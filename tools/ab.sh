#!/bin/bash
# Interleaved A/B of two class builds over a query subset: each round runs
# `graft.Probe time` (min-of-2 per query, Bench's session confs) once per
# side, A then B. Usage (from the repo root):
#   tools/ab.sh <classesA> <classesB> <q1,q2,...> [sfDir] [rounds]
# Prints, per query and side, the min over that side's runs and the number
# of runs it was taken over (n=...), so an A/B over unequal sample counts
# shows. Alternating order cancels slow host drift; per-query min cancels
# JIT/GC noise between JVMs. A run that exits nonzero or prints no TOTAL
# line contributes no samples: it is reported as SKIPPED with its log, and
# the script exits 1.
set -u
A="$1"; B="$2"; Q="$3"; SF="${4:-/root/testdata/sf0.1}"; N="${5:-3}"
LOGS=$(mktemp -d -t graft_ab.XXXXXX)
failed=0
for i in $(seq 1 "$N"); do
  for side in A B; do
    if [ "$side" = A ]; then classes="$A"; else classes="$B"; fi
    log="$LOGS/$side.$i.log"
    if GRAFT_CLASSES="$classes" tools/run.sh graft.Probe time "$Q" "$SF" \
         >"$log" 2>&1 && grep -q '^\[probe-time\] TOTAL ' "$log"; then
      grep '^\[probe-time\]' "$log" | grep -v '^\[probe-time\] TOTAL ' \
        | sed "s/^/$side /" >>"$LOGS/samples"
    else
      echo "SKIPPED $side run $i: failed or printed no TOTAL (log: $log)"
      failed=1
    fi
  done
done
[ -s "$LOGS/samples" ] && awk '
  { k=$1" "$3; t=$4+0; n[k]++; if (!(k in m) || t<m[k]) m[k]=t }
  END { for (k in m) printf "%s %.3f n=%d\n", k, m[k], n[k] }' "$LOGS/samples" \
  | sort -k2,2 -k1,1
if [ "$failed" = 0 ]; then rm -rf "$LOGS"; fi
exit "$failed"
