#!/usr/bin/env bash
# Runs every ScalaCheck suite and LokiExactDifferentialSpec on seeds 1-5
# (or the seeds given as arguments), one sbt test run per seed. Each seed
# reaches the forked test JVM as -Dgraft.prop.seed (the ScalaCheck suites'
# initial seed) and -Dgraft.exact.seed (the differential spec's corpus),
# through the build's SPARK_GRAFT_JVM_OPTS hook. Prints one PASS/FAIL line
# per seed and exits non-zero if any seed failed.
#
#   scripts/seed_sweep.sh            # seeds 1 2 3 4 5
#   scripts/seed_sweep.sh 7 8        # seeds 7 and 8
set -uo pipefail
cd "$(dirname "$0")/.."

suites=(
  graft.DedupProps
  graft.RelProps
  graft.TextStatsProps
  graft.functions.LogTemplateProps
  graft.loki.LogQLProps
  graft.loki.LokiPagerProps
  graft.loki.LokiParsersProps
  graft.sources.loki.LokiHttpProps
  graft.loki.LokiExactDifferentialSpec
)
seeds=("$@")
[[ ${#seeds[@]} -eq 0 ]] && seeds=(1 2 3 4 5)

export COURSIER_MODE="${COURSIER_MODE:-offline}"
failed=()
for seed in "${seeds[@]}"; do
  log="$(mktemp -t seed_sweep.XXXXXX)"
  if SPARK_GRAFT_JVM_OPTS="${SPARK_GRAFT_JVM_OPTS:-} -Dgraft.prop.seed=$seed -Dgraft.exact.seed=$seed" \
      sbt --batch -Dsbt.log.noformat=true "testOnly ${suites[*]}" >"$log" 2>&1; then
    echo "seed $seed: PASS ($(grep -Eo 'Passed: Total [0-9]+' "$log" | tail -1))"
    rm -f "$log"
  else
    echo "seed $seed: FAIL (log: $log)"
    grep -E '\*\*\* FAILED|Falsified|! [A-Za-z]' "$log" | head -20
    failed+=("$seed")
  fi
done
if [[ ${#failed[@]} -gt 0 ]]; then
  echo "failing seeds: ${failed[*]}"
  exit 1
fi
