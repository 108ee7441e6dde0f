#!/usr/bin/env bash
# Scale gate: matched Spark-vs-DuckDB sessions at sf1 on the adjudicated
# floor/dedup families, with a per-row ratio bar. Pins the SCALE.md sf1
# evidence so it cannot rot — both engines run back to back on the SAME
# host state, same parquet, and the artifacts land under gendata/scale_gate/
# (not /tmp, which dies on reboot).
#
# Usage:  tools/scale_gate.sh            # full gate, bar = 2.0x per row
#   env:  SF=1 SF_DIR=gendata/sf1 BAR=2.0 RUNS=5 DUCK_RUNS=3
#         QUERIES=q97_pagerank,...      # override the row set
#
# The q125/q129 DuckDB twins are EXCLUDED by default at sf1: q125's twin
# exhausts spill disk and is OOM-killed on a 128 GB host (dmesg-verified,
# round 13), and q129's strictly contains q125's work. Spark-side numbers
# for them live in SCALE.md; do not re-run the twins at sf1.
#
# Honest-measurement notes (round 14):
#  - DuckDB timings are stable under host load; Spark local[32] timings
#    swing up to +/-50% with VM steal (load-average spikes with no local
#    process attached). The gate therefore reports min-of-RUNS on both
#    sides, measured back to back, and records the 1-minute load average
#    with the result.
#  - The round-13 sf1 duck numbers (q97 8.59 s, q128 27.5 s, ...) were
#    measured in the session degraded by the q125 spill-disk/OOM incident
#    and do NOT reproduce on a clean host (q97 twin: ~1.7 s). This gate
#    exists to prevent exactly that class of stale evidence.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${SF:-1}"
SF_DIR="${SF_DIR:-gendata/sf$SF}"
BAR="${BAR:-2.0}"
RUNS="${RUNS:-5}"
DUCK_RUNS="${DUCK_RUNS:-3}"
QUERIES="${QUERIES:-q97_pagerank,q102_ppr,q146_weighted_pagerank,q80_naive_bayes,q190_textrank,q128_kcore,q116_basket_lift,q61_dedup_clusters,q72_dedup_keep_best}"
OUT="gendata/scale_gate"
mkdir -p "$OUT"

# Quiet-window discipline (round 15): Spark local[32] timings swing with
# VM steal, so a gate run only counts as adjudication evidence if the host
# is quiet. Refuse to start until load1 < QUIET_LOAD1 (default 5), polling
# every 30 s up to QUIET_WAIT_S (default 1800 s); on timeout either abort
# (default) or, with QUIET_STRICT=0, proceed with the run annotated
# quiet=false in RESULT_sf$SF.json. load1 is recorded before AND after.
QUIET_LOAD1="${QUIET_LOAD1:-5}"
QUIET_WAIT_S="${QUIET_WAIT_S:-1800}"
QUIET_STRICT="${QUIET_STRICT:-1}"
load1() { cut -d' ' -f1 /proc/loadavg; }
QUIET=true
waited=0
while awk -v l="$(load1)" -v c="$QUIET_LOAD1" 'BEGIN{exit !(l>=c)}'; do
  if [ "$waited" -ge "$QUIET_WAIT_S" ]; then
    if [ "$QUIET_STRICT" = "1" ]; then
      echo "[scale_gate] ABORT: load1=$(load1) >= $QUIET_LOAD1 after ${waited}s; re-run in a quiet window (or QUIET_STRICT=0 to annotate instead)." >&2
      exit 2
    fi
    QUIET=false
    echo "[scale_gate] WARNING: proceeding NON-QUIET (load1=$(load1)); result will carry quiet=false." >&2
    break
  fi
  echo "[scale_gate] waiting for quiet window: load1=$(load1) >= $QUIET_LOAD1 (${waited}s/${QUIET_WAIT_S}s)" >&2
  sleep 30; waited=$((waited + 30))
done
LOAD1_START="$(load1)"
echo "[scale_gate] quiet-window check passed: load1=$LOAD1_START (ceiling $QUIET_LOAD1)" >&2

# Running the compiled classes directly (tools/jrun.sh) avoids fighting a
# resident sbt server for the project lock.
run_main() { SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-12g}" tools/jrun.sh "$@"; }

if [ ! -d target/scala-2.13/classes/graft ]; then
  echo "[scale_gate] compiling..." >&2
  sbt -batch compile >&2
fi

if [ ! -e "$SF_DIR/lineitem.parquet" ]; then
  echo "[scale_gate] generating $SF_DIR (sf=$SF)..." >&2
  run_main graft.tools.GenData "$SF_DIR" "$SF" >&2
fi

if [ ! -s "$OUT/oracle_sql.json" ]; then
  echo "[scale_gate] dumping oracle SQL (cheap single-query verify)..." >&2
  GRAFT_VERIFY_ONLY=q01_pricing_summary \
    run_main graft.Verify /root/testdata/sf0.001 "$OUT/oracle_dump" >&2
  cp "$OUT/oracle_dump/oracle_sql.json" "$OUT/oracle_sql.json"
fi

echo "[scale_gate] Spark side ($RUNS runs/query, SHUFFLE=32 REPART=32)..." >&2
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_SHUFFLE=32 SPARK_GRAFT_REPART=32 \
SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_RUNS="$RUNS" \
SPARK_GRAFT_BENCH_OUT="$OUT/bench_sf$SF.json" \
  run_main graft.Bench >&2

echo "[scale_gate] DuckDB side ($DUCK_RUNS runs/query)..." >&2
python3 - "$OUT/oracle_sql.json" "$QUERIES" "$OUT/oracle_gate.json" <<'PY'
import json, sys
oracle = json.load(open(sys.argv[1]))
keep = sys.argv[2].split(',')
json.dump({k: oracle[k] for k in keep}, open(sys.argv[3], 'w'))
PY
python3 tools/duck_bench.py "$SF_DIR" "$OUT/oracle_gate.json" "$DUCK_RUNS" \
  > "$OUT/duck_sf$SF.json"

GATE_QUIET="$QUIET" GATE_LOAD1_START="$LOAD1_START" GATE_QUIET_CEIL="$QUIET_LOAD1" \
python3 - "$OUT/bench_sf$SF.json" "$OUT/duck_sf$SF.json" "$BAR" "$OUT/RESULT_sf$SF.json" <<'PY'
import json, sys, os, time
bench = json.load(open(sys.argv[1]))["queries"]
duck = json.load(open(sys.argv[2]))["queries"]
bar = float(sys.argv[3])
rows, worst = [], 0.0
for q in sorted(bench):
    s, d = bench[q], duck.get(q)
    ratio = (s / d) if d else None
    ok = ratio is not None and ratio <= bar
    worst = max(worst, ratio or 0.0)
    rows.append({"query": q, "spark_s": s, "duck_s": d,
                 "ratio": round(ratio, 2) if ratio else None, "pass": ok})
    print(f"{'PASS' if ok else 'FAIL'} {q:28s} spark={s:7.3f}s duck={d or 0:7.3f}s ratio={ratio or 0:5.2f}x (bar {bar}x)")
load1 = os.getloadavg()[0]
quiet = os.environ.get("GATE_QUIET", "true") == "true"
result = {"bar": bar, "worst_ratio": round(worst, 2), "load1": load1,
          "load1_start": float(os.environ.get("GATE_LOAD1_START", "-1")),
          "quiet": quiet,
          "quiet_ceiling": float(os.environ.get("GATE_QUIET_CEIL", "5")),
          "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), "rows": rows}
json.dump(result, open(sys.argv[4], "w"), indent=1)
fails = [r["query"] for r in rows if not r["pass"]]
print(f"\n[scale_gate] {len(rows)-len(fails)}/{len(rows)} rows within {bar}x; "
      f"worst {worst:.2f}x; load1={load1:.1f} (start {result['load1_start']:.1f}, "
      f"quiet={quiet}); fails: {fails}")
sys.exit(1 if fails else 0)
PY
