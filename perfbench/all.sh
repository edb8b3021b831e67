#!/usr/bin/env bash
# Runs every workload untraced for one seed and prints each run's
# end-to-end metrics and error rate. Exits non-zero if any run fails
# an output check.
#
#   bash perfbench/all.sh [seed] [seconds]
set -u
seed="${1:-1}"
seconds="${2:-10}"
rc=0
for w in crawl_filter resume_write; do
  python3 "$(dirname "$0")/run.py" --workload "$w" --seed "$seed" \
    --seconds "$seconds" --trace 0 || rc=1
done
exit "$rc"
