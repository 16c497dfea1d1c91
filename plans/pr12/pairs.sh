#!/bin/bash
# Alternating parent/change benchmark pairs, one run at a time.
#
#   plans/pr12/pairs.sh <parent-checkout> <change-checkout> <workload> <out> <seed>...
#
# For each seed runs `perfbench/run.py --workload <w> --seed <n> --seconds 8
# --trace 0` in both checkouts (the parent first on odd seeds, the change
# first on even ones) and appends the host sentinel line and the result
# line of every run to <out>, tagged `<side>_<workload>_s<seed>_t0`.
set -u
parent=$1 change=$2 workload=$3 out=$4
shift 4
run() { # side dir seed
  local tag="$1_${workload}_s$3_t0"
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
      --seconds 8 --trace 0 2>/dev/null | tail -n 2 | sed "s/^/$tag /") >> "$out"
}
for seed in "$@"; do
  if (( seed % 2 == 1 )); then
    run parent "$parent" "$seed"; run new "$change" "$seed"
  else
    run new "$change" "$seed"; run parent "$parent" "$seed"
  fi
done
